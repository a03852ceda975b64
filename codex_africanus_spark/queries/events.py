"""Event-stream analytics queries: windows, sessionization, journeys
(SURVEY §2.5, §2.10 batch twins). Mechanically moved out of the former
queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from codex_africanus_spark.functions.deterministic import qsum
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import load, local_frame
from codex_africanus_spark.operators import bda as bda_op  # noqa: E402
from codex_africanus_spark.operators import splines as spline_op  # noqa: E402
from codex_africanus_spark.operators import skew as skew_op  # noqa: E402
from codex_africanus_spark.operators import cdc as cdc_op  # noqa: E402
from codex_africanus_spark.operators import watermark as wm_op  # noqa: E402
from codex_africanus_spark.operators import gapfill as gapfill_op  # noqa: E402

from ._core import (  # noqa: F401
    _with_ms,
    register,
)

@register(
    "events_tumbling_window",
    _with_ms(
        """
        SELECT event_type,
               ts_us // 3600000000 AS hour_bin,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS value_sum
        FROM ev
        GROUP BY event_type, hour_bin
        ORDER BY event_type, hour_bin
        """
    ),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows (batch equivalent of the
    streaming/windowed.py plan; reference analogue: fixed time_bin_secs
    binning, time_and_channel_mapping.py:275)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type", F.expr("ts_us DIV 3600000000").alias("hour_bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (qsum(F.col("value"), 1e6) / F.lit(1e6)).alias("value_sum"),
        )
        .orderBy("event_type", "hour_bin")
    )


@register(
    "events_sliding_window",
    _with_ms(
        """
        SELECT event_type,
               (ts_us // 1800000000 - k.range) * 1800000000 AS win_start_us,
               COUNT(*) AS n_events,
               SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS value_sum
        FROM ev, range(2) k
        GROUP BY event_type, win_start_us
        ORDER BY event_type, win_start_us
        """
    ),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m event-time windows via the built-in window()
    generator (batch twin of streaming/windowed.sliding_window_stats —
    same expressions, Kappa parity). Each event expands to window/slide
    rows before one agg shuffle; the oracle enumerates the same window
    starts arithmetically."""
    ev = tpch_ms.events_table(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    return (
        ev.groupBy(
            "event_type", F.window("event_time", "1 hour", "30 minutes").alias("win")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (qsum(F.col("value"), 1e6) / F.lit(1e6)).alias("value_sum"),
        )
        .select(
            "event_type",
            F.unix_micros("win.start").alias("win_start_us"),
            "n_events",
            "value_sum",
        )
        .orderBy("event_type", "win_start_us")
    )


@register("events_sessionize", _with_ms(bda_op.SESSIONIZE_SQL()))
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via sorted-stream mapInPandas (custom
    stateful op with cross-Arrow-batch carry — the round-4 replacement
    for per-group applyInPandas, which pays per-group Python overhead),
    oracle-checked against the gaps-and-islands SQL identity."""
    ev = tpch_ms.events_table(spark, sf_dir)
    return bda_op.sessionize(ev).orderBy("user_id", "ts_us", "event_id")


# Natural-cubic-spline oracle: the tridiagonal system is solved by a
# Thomas forward/backward pair of RECURSIVE CTEs (the engine uses a
# LAPACK dense solve — different algorithm, same diagonally-dominant
# solution to ~1e-13, absorbed by the 6dp output round). The evaluation
# grid mirrors np.linspace bit-for-bit (j·step + x0, endpoint forced).
_SPLINE_ORACLE = f"""
    WITH RECURSIVE ev AS ({tpch_ms.EVENTS_SQL}),
    knots AS MATERIALIZED (
      SELECT user_id AS key, ts_us / 1e6 AS x, value AS y,
             row_number() OVER (PARTITION BY user_id ORDER BY ts_us) - 1 AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM ev WHERE user_id < 8 AND event_id % 5 = 0
    ),
    sys AS MATERIALIZED (
      SELECT key, i, x, y, n,
             lead(x) OVER w - x AS h,
             x - lag(x) OVER w AS hm,
             CASE WHEN i = 0 OR i = n - 1 THEN 0.0
                  ELSE x - lag(x) OVER w END AS sub,
             CASE WHEN i = 0 OR i = n - 1 THEN 1.0
                  ELSE 2.0 * ((x - lag(x) OVER w) + (lead(x) OVER w - x)) END AS diag,
             CASE WHEN i = 0 OR i = n - 1 THEN 0.0
                  ELSE lead(x) OVER w - x END AS sup,
             CASE WHEN i = 0 OR i = n - 1 THEN 0.0
                  ELSE 3.0 * ((lead(y) OVER w - y) / (lead(x) OVER w - x)
                              - (y - lag(y) OVER w) / (x - lag(x) OVER w)) END AS rhs
      FROM knots
      WINDOW w AS (PARTITION BY key ORDER BY i)
    ),
    fwd AS (
      SELECT key, i, sup, n, diag AS dp, rhs AS rp FROM sys WHERE i = 0
      UNION ALL
      SELECT s.key, s.i, s.sup, s.n,
             s.diag - (s.sub / f.dp) * f.sup,
             s.rhs - (s.sub / f.dp) * f.rp
      FROM fwd f JOIN sys s ON s.key = f.key AND s.i = f.i + 1
    ),
    bwd AS (
      SELECT key, i, rp / dp AS c FROM fwd WHERE i = n - 1
      UNION ALL
      SELECT f.key, f.i, (f.rp - f.sup * b.c) / f.dp
      FROM bwd b JOIN fwd f ON f.key = b.key AND f.i = b.i - 1
    ),
    coeff AS (
      SELECT s.key, s.i, s.x, s.y, s.h,
             (lead(s.y) OVER w2 - s.y) / s.h
               - s.h * (2.0 * b.c + lead(b.c) OVER w2) / 3.0 AS b,
             b.c AS c,
             (lead(b.c) OVER w2 - b.c) / (3.0 * s.h) AS d
      FROM sys s JOIN bwd b ON b.key = s.key AND b.i = s.i
      WINDOW w2 AS (PARTITION BY s.key ORDER BY s.i)
    ),
    extent AS (
      SELECT key, MIN(x) AS x0, MAX(x) AS xl FROM knots GROUP BY key
    ),
    grid AS (
      SELECT e.key, CAST(j.range AS INT) AS j,
             CASE WHEN j.range = 15 THEN e.xl
                  ELSE j.range * ((e.xl - e.x0) / 15) + e.x0 END AS x_eval
      FROM extent e, range(16) j
    ),
    picked AS (
      SELECT g.key, g.x_eval,
             (SELECT LEAST(GREATEST(COALESCE(MAX(k.i), -1), 0), MAX(k.n) - 2)
              FROM knots k WHERE k.key = g.key AND k.x <= g.x_eval) AS idx
      FROM grid g
    )
    SELECT p.key, p.x_eval,
           round(co.y + co.b * (p.x_eval - co.x)
                 + co.c * ((p.x_eval - co.x) * (p.x_eval - co.x))
                 + co.d * (((p.x_eval - co.x) * (p.x_eval - co.x)) * (p.x_eval - co.x)),
                 6) AS y_eval
    FROM picked p JOIN coeff co ON co.key = p.key AND co.i = p.idx
    ORDER BY p.key, p.x_eval
"""


@register("spline_smooth_user_series", _SPLINE_ORACLE)
def spline_smooth_user_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural cubic-spline fit + dense evaluation per user over the
    events series (reference averaging/splines.py:14-140) — exactly
    oracled: a Thomas-recursion twin solves the same tridiagonal system
    in DuckDB (knot-interpolation property additionally unit-tested)."""
    ev = tpch_ms.events_table(spark, sf_dir).filter(
        (F.col("user_id") < 8) & (F.col("event_id") % 5 == 0)
    )
    samples = ev.select(
        F.col("user_id").alias("key"),
        (F.col("ts_us") / F.lit(1e6)).alias("x"),
        F.col("value").alias("y"),
    )
    out = spline_op.evaluate_spline_dense(samples)
    return out.select(
        "key", "x_eval", F.round(F.col("y_eval"), 6).alias("y_eval")
    ).orderBy("key", "x_eval")


@register(
    "events_rollup_grouping_sets",
    _with_ms(
        """
        SELECT COALESCE(event_type, '<all>') AS event_type,
               COALESCE(CAST(ts_us // 86400000000 AS BIGINT), -1) AS day_bin,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT) AS value_q
        FROM ev
        GROUP BY GROUPING SETS ((event_type, ts_us // 86400000000), (event_type), ())
        ORDER BY event_type, day_bin
        """
    ),
)
def events_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP-style grouping sets over the event stream (relational
    surface beyond the reference: multi-granularity aggregation in one
    pass with partial aggregation shared across sets)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    day = F.expr("ts_us DIV 86400000000")
    return (
        ev.withColumn("day_bin0", day)
        .rollup("event_type", "day_bin0")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            qsum(F.col("value"), 1e6).alias("value_q"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("day_bin0"), F.lit(-1)).cast("long").alias("day_bin"),
            "n_events",
            "value_q",
        )
        .orderBy("event_type", "day_bin")
    )


@register("events_sessionize_relational", _with_ms(bda_op.SESSIONIZE_SQL()))
def events_sessionize_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via window functions (the Tungsten path
    for SQL-expressible closure rules; same oracle as the applyInPandas
    variant)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    return bda_op.sessionize_relational(ev).orderBy("user_id", "ts_us", "event_id")


@register("events_sessionize_salted", _with_ms(bda_op.SESSIONIZE_SQL()))
def events_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-level sessionize: the sequential rule runs per
    (user, day-bucket) with relational boundary stitching — bounds every
    pandas task for pathological hot keys. Exactly equivalent to
    the single-level operator, hence the identical oracle."""
    from codex_africanus_spark.operators import skew as skew_op

    ev = tpch_ms.events_table(spark, sf_dir)
    return skew_op.salted_sessionize(ev).orderBy("user_id", "ts_us", "event_id")


@register(
    "events_lag_lead_deltas",
    _with_ms(
        """
        SELECT event_id, user_id,
               ts_us - lag(ts_us) OVER w AS dt_us,
               CAST(ROUND((value - lag(value) OVER w) * 1000000) AS BIGINT) AS dv_micro,
               lead(event_id) OVER w AS next_event_id
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ORDER BY user_id, ts_us, event_id
        """
    ),
)
def events_lag_lead_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead frame analytics: per-user inter-event time and value
    deltas (integer-exact) plus the successor id — the ordered-window
    family beyond the binning scans."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "event_id", "user_id",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("dt_us"),
        F.round((F.col("value") - F.lag("value").over(w)) * 1e6)
        .cast("long").alias("dv_micro"),
        F.lead("event_id").over(w).alias("next_event_id"),
    ).orderBy("user_id", "ts_us", "event_id")


@register(
    "events_asof_prior_join",
    _with_ms(
        """
        SELECT event_id, user_id, ts_us,
               COALESCE(prior_view_ts, -1) AS prior_view_ts,
               COALESCE(ts_us - prior_view_ts, -1) AS gap_us
        FROM (
          SELECT event_id, user_id, ts_us, event_type,
                 MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER (
                   PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS prior_view_ts
          FROM ev
        ) WHERE event_type = 'purchase'
        ORDER BY event_id
        """
    ),
)
def events_asof_prior_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join on the event stream: each purchase picks up the most
    recent strictly-earlier 'view' timestamp of the same user.

    The scalable as-of shape: both sides live in ONE partition-by-user
    window pass (RANGE to the previous value — deterministic under
    timestamp ties), instead of a per-row subquery or a sort-merge
    band join. One shuffle keyed by user_id; -1 marks no-prior-view."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    prior = F.max(
        F.when(F.col("event_type") == "view", F.col("ts_us"))
    ).over(w)
    return (
        ev.withColumn("prior_view_ts", prior)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_us",
            F.coalesce(F.col("prior_view_ts"), F.lit(-1)).alias("prior_view_ts"),
            F.coalesce(
                F.col("ts_us") - F.col("prior_view_ts"), F.lit(-1)
            ).alias("gap_us"),
        )
        .orderBy("event_id")
    )


@register(
    "events_user_set_ops",
    _with_ms(
        """
        SELECT user_id, 'both' AS cohort FROM (
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'click'
          INTERSECT
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'
        )
        UNION ALL
        SELECT user_id, 'click_only' AS cohort FROM (
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'click'
          EXCEPT
          SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'
        )
        ORDER BY cohort, user_id
        """
    ),
)
def events_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations (SURVEY §2.7 beyond union):
    clicker∩purchaser and clicker∖purchaser user cohorts — both sides
    reduce to distinct user sets (partial-agg shuffles at user
    cardinality) before the set op."""
    ev = tpch_ms.events_table(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clicks.intersect(buys).select("user_id", F.lit("both").alias("cohort"))
    only = clicks.exceptAll(buys).select(
        "user_id", F.lit("click_only").alias("cohort")
    )
    return both.unionByName(only).orderBy("cohort", "user_id")


@register(
    "events_attribution_interval_join",
    _with_ms(
        """
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
               p.ts_us - v.ts_us AS gap_us, p.value AS purchase_value
        FROM ev v JOIN ev p
          ON p.user_id = v.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts_us > v.ts_us AND p.ts_us <= v.ts_us + 3600000000
        ORDER BY view_id, purchase_id
        """
    ),
)
def events_attribution_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution interval join
    (streaming/joins.attribution_batch). One user_id-keyed shuffle."""
    ev = tpch_ms.events_table(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    from codex_africanus_spark.streaming import joins as sj

    return sj.attribution_batch(ev).orderBy("view_id", "purchase_id")


_EVENTS_FUNNEL_ORACLE = _with_ms(
    """
    , per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts_us END) AS t1
      FROM ev GROUP BY user_id
    ),
    s2 AS (
      SELECT p.user_id, p.t1,
             MIN(CASE WHEN e.event_type = 'view' AND e.ts_us > p.t1
                       AND e.ts_us <= p.t1 + 86400000000
                      THEN e.ts_us END) AS t2
      FROM per_user p JOIN ev e ON e.user_id = p.user_id
      GROUP BY p.user_id, p.t1
    ),
    s3 AS (
      SELECT s.user_id, s.t1, s.t2,
             MIN(CASE WHEN e.event_type = 'click' AND e.ts_us > s.t2
                       AND e.ts_us <= s.t2 + 86400000000
                      THEN e.ts_us END) AS t3
      FROM s2 s JOIN ev e ON e.user_id = s.user_id
      GROUP BY s.user_id, s.t1, s.t2
    ),
    s4 AS (
      SELECT s.user_id, s.t1, s.t2, s.t3,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts_us > s.t3
                       AND e.ts_us <= s.t3 + 86400000000
                      THEN e.ts_us END) AS t4
      FROM s3 s JOIN ev e ON e.user_id = s.user_id
      GROUP BY s.user_id, s.t1, s.t2, s.t3
    )
    SELECT COUNT(t1) AS n_signup,
           COUNT(t2) AS n_view_after,
           COUNT(t3) AS n_click_after,
           COUNT(t4) AS n_purchase_after,
           round(COUNT(t4) / CAST(COUNT(t1) AS DOUBLE), 9) AS conversion
    FROM s4
    """
)


@register("events_funnel_conversion", _EVENTS_FUNNEL_ORACLE)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup -> view -> click -> purchase):
    stage k counts users whose first stage-k event falls within one day
    after their stage-(k-1) entry time. The cascade is four window minima over
    the SAME user partitioning — Spark plans ONE user-keyed shuffle and
    reuses it for every stage (no per-stage re-join of the fact table,
    which is what the oracle's self-join formulation would cost at
    100 TB). Final rollup is a single global aggregate row."""
    ev = tpch_ms.events_table(spark, sf_dir)
    wu = W.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).over(wu)
    ev1 = ev.withColumn("t1", t1)
    H = 86400000000  # 1-day step horizon (unbounded saturates on dense data)
    t2 = F.min(
        F.when((F.col("event_type") == "view") & (F.col("ts_us") > F.col("t1"))
               & (F.col("ts_us") <= F.col("t1") + H), F.col("ts_us"))
    ).over(wu)
    ev2 = ev1.withColumn("t2", t2)
    t3 = F.min(
        F.when((F.col("event_type") == "click") & (F.col("ts_us") > F.col("t2"))
               & (F.col("ts_us") <= F.col("t2") + H), F.col("ts_us"))
    ).over(wu)
    ev3 = ev2.withColumn("t3", t3)
    t4 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts_us") > F.col("t3"))
            & (F.col("ts_us") <= F.col("t3") + H),
            F.col("ts_us"),
        )
    ).over(wu)
    per_user = (
        ev3.withColumn("t4", t4)
        .groupBy("user_id")
        .agg(
            F.min("t1").alias("t1"), F.min("t2").alias("t2"),
            F.min("t3").alias("t3"), F.min("t4").alias("t4"),
        )
    )
    return per_user.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_view_after"),
        F.count("t3").alias("n_click_after"),
        F.count("t4").alias("n_purchase_after"),
        F.round(F.count("t4") / F.count("t1"), 9).alias("conversion"),
    )


_WEEK_US = 604800000000  # 7 * 86400 * 1e6


_COHORT_ORACLE = _with_ms(
    f"""
    , cohort AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts_us END)
               // {_WEEK_US} AS cohort_week
      FROM ev GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, c.cohort_week,
             e.ts_us // {_WEEK_US} - c.cohort_week AS week_offset
      FROM ev e JOIN cohort c ON c.user_id = e.user_id
      WHERE c.cohort_week IS NOT NULL
        AND e.ts_us // {_WEEK_US} >= c.cohort_week
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_active
    FROM activity GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """
)


@register("events_cohort_retention", _COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by their first
    signup week; each later week of any activity marks them retained at
    that offset. One user-keyed shuffle computes the cohort (window min
    reuses the same partitioning for the offset projection), the distinct
    collapses to (cohort, offset, user), and the rollup is matrix-sized.
    The classic growth-analytics shape, exactly oracled."""
    ev = tpch_ms.events_table(spark, sf_dir)
    wu = W.partitionBy("user_id")
    cohort = F.floor(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).over(wu)
        / _WEEK_US
    )
    withc = ev.withColumn("cohort_week", cohort).filter(
        F.col("cohort_week").isNotNull()
    )
    act = (
        withc.select(
            "user_id",
            "cohort_week",
            (F.floor(F.col("ts_us") / _WEEK_US) - F.col("cohort_week")).alias(
                "week_offset"
            ),
        )
        .filter(F.col("week_offset") >= 0)
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


_PIVOT_ORACLE = _with_ms(
    """
    SELECT (ts_us // 86400000000) % 7 AS weekday,
    """
    + ",\n    ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
        for t in _EVENT_TYPES
    )
    + """
    FROM ev GROUP BY weekday ORDER BY weekday
    """
)


@register("events_pivot_weekday", _PIVOT_ORACLE)
def events_pivot_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab via pivot: event counts by weekday x event_type, with the
    pivot VALUES declared explicitly (no extra distinct-scan job, stable
    column order for the oracle compare). Pivot compiles to conditional
    aggregates — one shuffle at cell cardinality."""
    ev = tpch_ms.events_table(spark, sf_dir)
    piv = (
        ev.groupBy(
            (F.expr("ts_us DIV 86400000000") % 7).alias("weekday")
        )
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "weekday",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
    )
    return out.orderBy("weekday")


_NTILE_ORACLE = _with_ms(
    """
    , tiles AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile
      FROM ev
    )
    SELECT event_type, decile, COUNT(*) AS n,
           SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS value_sum
    FROM tiles GROUP BY event_type, decile
    ORDER BY event_type, decile
    """
)


@register("events_value_deciles", _NTILE_ORACLE)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile binning via ntile window per event type (ties broken by
    event_id so the tiling is deterministic), rolled up to per-decile
    counts and quantized sums — one event_type-keyed shuffle for the
    window, reused by the aggregation."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    tiles = ev.withColumn("decile", F.ntile(10).over(w))
    return (
        tiles.groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (qsum(F.col("value"), 1e6) / F.lit(1e6)).alias("value_sum"),
        )
        .orderBy("event_type", "decile")
    )


_JSON_PROPS_ORACLE = """
  WITH parsed AS (
    SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events
  )
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(k) AS BIGINT) AS k_sum,
         CAST(MIN(k) AS BIGINT) AS k_min,
         CAST(MAX(k) AS BIGINT) AS k_max,
         CAST(COUNT(CASE WHEN k >= 50 THEN 1 END) AS BIGINT) AS n_high
  FROM parsed GROUP BY event_type ORDER BY event_type
"""


@register("events_json_props_stats", _JSON_PROPS_ORACLE)
def events_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: the events `props` JSON string is
    parsed in the scan projection (get_json_object — JVM-side, no UDF)
    and aggregated per event type. At 100 TB the parse rides the scan;
    nothing materializes the parsed form before the partial aggregate."""
    ev = load(spark, "events", sf_dir)
    parsed = ev.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(F.when(F.col("k") >= 50, 1)).alias("n_high"),
        )
        .orderBy("event_type")
    )


_GAP_FILL_ORACLE = _with_ms(
    """
    , per_day AS (
      SELECT user_id, ts_us // 86400000000 AS day_bin, COUNT(*) AS n
      FROM ev GROUP BY user_id, day_bin
    ),
    bounds AS (
      SELECT user_id, MIN(day_bin) AS lo, MAX(day_bin) AS hi
      FROM per_day GROUP BY user_id
    ),
    grid AS (
      SELECT b.user_id, unnest(generate_series(b.lo, b.hi)) AS day_bin
      FROM bounds b
    )
    SELECT g.user_id, g.day_bin,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_events,
           CASE WHEN p.n IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM grid g LEFT JOIN per_day p
      ON p.user_id = g.user_id AND p.day_bin = g.day_bin
    ORDER BY g.user_id, g.day_bin
    """
)


@register("events_gap_fill_daily", _GAP_FILL_ORACLE)
def events_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: per-user daily activity with silent
    days materialized as zero rows (the resample/gap-fill primitive
    under retention and anomaly pipelines). The day grid comes from
    sequence() over each user's own [first, last] bounds — generated at
    bound cardinality, never a global calendar cross join — and the
    fill join is co-keyed on (user, day)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    per_day = ev.groupBy(
        "user_id", F.expr("ts_us DIV 86400000000").alias("day_bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = per_day.groupBy("user_id").agg(
        F.min("day_bin").alias("lo"), F.max("day_bin").alias("hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day_bin")
    )
    return (
        grid.join(per_day, ["user_id", "day_bin"], "left")
        .select(
            "user_id",
            "day_bin",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
        )
        .orderBy("user_id", "day_bin")
    )


_RFM_ORACLE = _with_ms(
    """
    , per_user AS (
      SELECT user_id,
             (SELECT MAX(ts_us) FROM ev) - MAX(ts_us) AS rec_us,
             COUNT(*) AS freq,
             SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS monetary_c
      FROM ev GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, rec_us // 86400000000 AS recency_days, freq, monetary_c,
             NTILE(5) OVER (ORDER BY rec_us, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_c DESC, user_id) AS m_score
      FROM per_user
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_users,
           CAST(SUM(freq) AS BIGINT) AS total_events,
           CAST(SUM(monetary_c) AS BIGINT) AS total_monetary_c
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """
)


@register("events_rfm_segmentation", _RFM_ORACLE)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user Recency/Frequency/Monetary quintile
    scores (NTILE over deterministic (metric, user_id) orderings — both
    engines split remainder buckets identically), rolled up to segment
    counts. The unpartitioned NTILE runs on the USER-grain frame — a
    dimension table, not the fact table — so the single-partition sort
    is bounded at any event volume; quintile-1 recency = most recent."""
    ev = tpch_ms.events_table(spark, sf_dir)
    ref = ev.agg(F.max("ts_us").alias("ref_us"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts_us").alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("monetary_c"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            (F.col("ref_us") - F.col("last_us")).alias("rec_us"),
            "freq",
            "monetary_c",
        )
    )
    scored = per_user.select(
        F.expr("rec_us DIV 86400000000").alias("recency_days"),
        "freq",
        "monetary_c",
        F.ntile(5).over(W.orderBy("rec_us", "user_id")).alias("r_score"),
        F.ntile(5).over(W.orderBy(F.desc("freq"), "user_id")).alias("f_score"),
        F.ntile(5).over(W.orderBy(F.desc("monetary_c"), "user_id")).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("freq").alias("total_events"),
            F.sum("monetary_c").alias("total_monetary_c"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


_MARKOV_ORACLE = _with_ms(
    """
    , seq AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS to_type
      FROM ev
    ),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           (n * 1000000)
             // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_ppm
    FROM cnt ORDER BY from_type, to_type
    """
)


@register("events_markov_transitions", _MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: LEAD pairs within (user, time) order, counted per
    (from, to) with integer ppm row-normalized probabilities — the
    session-flow model behind funnel design. The per-user window is the
    only fact-grain pass; the normalizing window runs on the
    n_types^2-row count matrix."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    cnt = cnt.withColumn("tot", F.sum("n").over(W.partitionBy("from_type")))
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        F.expr("(n * 1000000) DIV tot").alias("prob_ppm"),
    ).orderBy("from_type", "to_type")


_BURST_ORACLE = _with_ms(
    """
    , daily AS (
      SELECT event_type, ts_us // 86400000000 AS day, COUNT(*) AS cnt
      FROM ev GROUP BY event_type, ts_us // 86400000000
    ),
    trail AS (
      SELECT event_type, day, cnt,
             COALESCE(CAST(SUM(cnt) OVER w AS BIGINT), 0) AS sp,
             COUNT(cnt) OVER w AS np
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    , scored AS (
      SELECT event_type, day, cnt, sp, np,
             (cnt * np * 1000000) // GREATEST(sp, 1) AS rate_ratio_ppm,
             CASE WHEN cnt * np * 2 > 3 * sp THEN 1 ELSE 0 END AS burst,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY (cnt * np * 1000000) // GREATEST(sp, 1)
                                         DESC, day) AS rnk
      FROM trail WHERE np >= 3
    )
    SELECT event_type, rnk, day, cnt, sp AS trail_sum, np AS trail_days,
           rate_ratio_ppm, burst
    FROM scored WHERE rnk <= 5
    ORDER BY event_type, rnk
    """
)


@register("events_rate_burst_flags", _BURST_ORACLE)
def events_rate_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-burst detection: a (type, day) whose count exceeds 1.5x its
    trailing-week daily mean (integer cross-multiplied — no float rate)
    flags as a burst, the ops-monitoring shape behind incident review
    and bot-traffic triage. One fact collapse to the daily grid, then
    bounded ROWS frames on the type-dimension series."""
    ev = tpch_ms.events_table(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.expr("ts_us DIV 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    trail = daily.select(
        "event_type",
        "day",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("sp"),
        F.count("cnt").over(w).alias("np"),
    )
    scored = trail.filter(F.col("np") >= 3).select(
        "event_type",
        "day",
        "cnt",
        "sp",
        "np",
        F.expr("(cnt * np * 1000000) DIV GREATEST(sp, 1)").alias("rate_ratio_ppm"),
        F.when(F.col("cnt") * F.col("np") * 2 > 3 * F.col("sp"), 1)
        .otherwise(0)
        .alias("burst"),
    )
    wr = W.partitionBy("event_type").orderBy(F.desc("rate_ratio_ppm"), "day")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            "rnk",
            "day",
            "cnt",
            F.col("sp").alias("trail_sum"),
            F.col("np").alias("trail_days"),
            "rate_ratio_ppm",
            "burst",
        )
        .orderBy("event_type", "rnk")
    )


_HAZARD_ORACLE = _with_ms(
    """
    , lifespans AS (
      SELECT user_id,
             (MAX(ts_us) - MIN(ts_us)) // 86400000000 AS lifespan
      FROM ev GROUP BY user_id
    ),
    per_l AS (
      SELECT lifespan, COUNT(*) AS churned FROM lifespans GROUP BY lifespan
    ),
    curve AS (
      SELECT lifespan AS day_k, churned,
             CAST(SUM(churned) OVER (ORDER BY lifespan DESC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS at_risk
      FROM per_l
    )
    SELECT day_k, at_risk, churned,
           (churned * 1000000) // at_risk AS hazard_ppm
    FROM curve ORDER BY day_k
    """
)


@register("events_hazard_curve", _HAZARD_ORACLE)
def events_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime survival hazard (the Kaplan-Meier risk table, discrete
    days): users grouped by observed lifespan (last minus first event,
    whole days); at-risk(k) is the reverse cumulative count and
    hazard(k) = churned/at-risk in integer ppm. Complements the
    calendar-cohort retention matrix with the lifetime-relative view a
    churn model trains on. One fact collapse to users, then
    lifespan-dimension windows."""
    ev = tpch_ms.events_table(spark, sf_dir)
    lifespans = ev.groupBy("user_id").agg(
        F.expr("(MAX(ts_us) - MIN(ts_us)) DIV 86400000000").alias("lifespan")
    )
    per_l = lifespans.groupBy("lifespan").agg(F.count(F.lit(1)).alias("churned"))
    w = W.orderBy(F.desc("lifespan")).rowsBetween(W.unboundedPreceding, 0)
    curve = per_l.select(
        F.col("lifespan").alias("day_k"),
        "churned",
        F.sum("churned").over(w).alias("at_risk"),
    )
    return curve.select(
        "day_k",
        "at_risk",
        "churned",
        F.expr("(churned * 1000000) DIV at_risk").alias("hazard_ppm"),
    ).orderBy("day_k")


_TOP_PATHS_SQL = _with_ms("""
  , evd AS (
    SELECT user_id,
           ts_us // 86400000000 AS day,
           event_type, ts_us, event_id
    FROM ev
  ),
  stepped AS (
    SELECT user_id, day, event_type,
           row_number() OVER (PARTITION BY user_id, day
                              ORDER BY ts_us, event_id) AS rn
    FROM evd
  ),
  paths AS (
    SELECT user_id, day,
           string_agg(event_type, '>' ORDER BY rn) AS path,
           COUNT(*) AS path_len
    FROM stepped WHERE rn <= 5
    GROUP BY user_id, day
  ),
  counted AS (
    SELECT path, CAST(MAX(path_len) AS BIGINT) AS path_len,
           COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users
    FROM paths GROUP BY path
  ),
  ranked AS (
    SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
    FROM counted
  )
  SELECT rank, path, path_len, n_sessions, n_users
  FROM ranked WHERE rank <= 50 ORDER BY rank
""")


@register("events_top_paths", _TOP_PATHS_SQL)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths (r9): each (user, day) session's first five
    event types in (ts, event_id) order join into a path string; the 50
    most-travelled paths with session and user counts — the product-
    analytics flow report (GA-style 'behavior flow'). The path string
    builds from array_sort over (rn, type) structs, so collect order can
    never leak in; top-k is distributed TakeOrderedAndProject."""
    ev = tpch_ms.events_table(spark, sf_dir).select(
        "user_id",
        F.expr("ts_us DIV 86400000000").alias("day"),
        "event_type", "ts_us", "event_id",
    )
    stepped = ev.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
        ),
    ).filter(F.col("rn") <= 5)
    paths = stepped.groupBy("user_id", "day").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(rn, "
            "event_type))), x -> x.event_type), '>')"
        ).alias("path"),
        F.count(F.lit(1)).alias("path_len"),
    )
    counted = paths.groupBy("path").agg(
        F.max("path_len").alias("path_len"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
    )
    top = counted.orderBy(F.col("n_sessions").desc(), "path").limit(50)
    return (
        top.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("n_sessions").desc(), "path")),
        )
        .select("rank", "path", "path_len", "n_sessions", "n_users")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# r10: daily-count periodicity — Pearson autocorrelation of the dense
# daily event-count series at lags 1..7 (the weekly-seasonality
# detector behind traffic forecasting and anomaly baselines). The day
# grid is DENSE (missing days count 0 — otherwise gaps silently shift
# lags), every Pearson moment is an exact integer sum over the aligned
# slices, and only the final ratio touches floats (identical
# int-derived doubles both engines; 1e-6-quantized output).
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = _with_ms(
    """
    , daily AS (
      SELECT ts_us // 86400000000 AS day, COUNT(*) AS cnt
      FROM ev GROUP BY 1
    ),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
    dense AS (
      SELECT g.range + b.d0 AS day, COALESCE(d.cnt, 0) AS cnt
      FROM bounds b, range(0, 1000000) g
      LEFT JOIN daily d ON d.day = g.range + (SELECT d0 FROM bounds)
      WHERE g.range <= b.d1 - b.d0
    ),
    lags(lag) AS (VALUES (1),(2),(3),(4),(5),(6),(7)),
    pairs AS (
      SELECT l.lag, x.cnt AS cx, y.cnt AS cy
      FROM lags l
      JOIN dense x ON true
      JOIN dense y ON y.day = x.day + l.lag
    ),
    mom AS (
      SELECT lag, COUNT(*) AS m,
             CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
             CAST(SUM(cx * cx) AS BIGINT) AS sxx,
             CAST(SUM(cy * cy) AS BIGINT) AS syy,
             CAST(SUM(cx * cy) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, m,
           CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
                THEN CAST(ROUND(
                       (m * sxy - sx * sy)
                       / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                              * CAST(m * syy - sy * sy AS DOUBLE))
                       * 1000000.0) AS BIGINT) / 1000000.0
                ELSE CAST(0.0 AS DOUBLE) END AS r_lag
    FROM mom ORDER BY lag
    """
)


@register("events_periodicity_autocorr", _AUTOCORR_ORACLE)
def events_periodicity_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 Pearson autocorrelation of the dense daily event-count
    series (see _AUTOCORR_ORACLE). Fact work: one day-grain collapse;
    the dense grid, lag self-join, and moment sums all run at
    observation-span-days cardinality."""
    from codex_africanus_spark.functions.deterministic import quantize

    ev = tpch_ms.events_table(spark, sf_dir)
    daily = ev.groupBy(
        F.expr("ts_us DIV 86400000000").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    dense = (
        bounds.select(
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
        )
        .join(daily, "day", "left")
        .select("day", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    x = dense.select(F.col("day").alias("dx"), F.col("cnt").alias("cx"))
    y = dense.select(F.col("day").alias("dy"), F.col("cnt").alias("cy"))
    pairs = lags.crossJoin(x).join(
        y, F.col("dy") == F.col("dx") + F.col("lag")
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("cx").cast("long").alias("sx"),
        F.sum("cy").cast("long").alias("sy"),
        F.sum(F.col("cx") * F.col("cx")).cast("long").alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).cast("long").alias("syy"),
        F.sum(F.col("cx") * F.col("cy")).cast("long").alias("sxy"),
    )
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    r = num / F.sqrt(vx.cast("double") * vy.cast("double"))
    rq = quantize(r, 1e6) / F.lit(1e6)
    return mom.select(
        "lag", "m",
        F.when((vx > 0) & (vy > 0), rq).otherwise(F.lit(0.0)).alias("r_lag"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# r10: weekday seasonality profile — the decomposition companion of
# events_periodicity_autocorr: per (event_type, epoch-anchored weekday)
# the count and exact cents-sum, plus the count's parts-per-million
# deviation from the type's mean weekday share (integer
# cross-multiplied — no float rates). Rows = #types × 7.
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = _with_ms(
    """
    , wd AS (
      SELECT event_type,
             CAST((ts_us // 86400000000 + 4) % 7 AS INT) AS weekday,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM ev GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_type FROM wd
      GROUP BY event_type
    )
    SELECT w.event_type, w.weekday, w.cnt, w.value_cents,
           CAST((w.cnt * 7 - t.n_type) * 1000000 // t.n_type AS BIGINT)
             AS dev_ppm
    FROM wd w JOIN tot t USING (event_type)
    ORDER BY w.event_type, w.weekday
    """
)


@register("events_weekday_profile", _WEEKDAY_ORACLE)
def events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, weekday) census with integer ppm deviation from the
    uniform-weekday baseline (see _WEEKDAY_ORACLE)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    wd = ev.groupBy(
        "event_type",
        F.expr("CAST((ts_us DIV 86400000000 + 4) % 7 AS INT)").alias("weekday"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).cast("long")
        .alias("value_cents"),
    )
    tot = wd.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n_type")
    )
    return (
        wd.join(tot, "event_type")
        .select(
            "event_type", "weekday", "cnt", "value_cents",
            # Spark DIV and DuckDB // BOTH truncate toward zero
            # (verified (-7)//2 = -3 in DuckDB 1.x), so the integer
            # division is sign-safe here
            F.expr(
                "CAST((cnt * 7 - n_type) * 1000000 DIV n_type AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("event_type", "weekday")
    )


# ---------------------------------------------------------------------------
# r10: session-duration quantiles on the deterministic value grid —
# composes the relational sessionizer with the grid-quantile discipline
# (value error ≤ one 60 s bucket, bit-deterministic ⇒ exactly oracled;
# the engine's KLL-slot answer for "p50/p90/p99 session length", the
# engagement KPI behind retention dashboards). Sessions collapse
# map-side; the cumulative window runs on the bounded bucket grid.
# ---------------------------------------------------------------------------

_SESS_DUR_ORACLE = _with_ms(
    """
    , sess AS (
      SELECT user_id, session_idx,
             MAX(ts_us) - MIN(ts_us) AS dur_us
      FROM (
        SELECT event_id, user_id, ts_us,
               SUM(isn) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM (
          SELECT event_id, user_id, ts_us,
                 CASE WHEN lag(ts_us) OVER w IS NOT NULL
                           AND ts_us - lag(ts_us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS isn
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        )
      )
      GROUP BY user_id, session_idx
    ),
    buckets AS (
      SELECT LEAST(dur_us // 60000000, 10000) AS bucket, COUNT(*) AS c
      FROM sess GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             SUM(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cc
      FROM buckets
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_sessions FROM buckets),
    qs(q) AS (VALUES (50), (90), (99))
    SELECT qs.q, n.n_sessions,
           CAST(MIN(CASE WHEN cum.cc >= (n.n_sessions * qs.q + 99) // 100
                    THEN cum.bucket END) AS BIGINT) AS bucket,
           CAST(MIN(CASE WHEN cum.cc >= (n.n_sessions * qs.q + 99) // 100
                    THEN cum.bucket END) * 60 AS BIGINT) AS approx_secs
    FROM qs, n, cum
    GROUP BY qs.q, n.n_sessions
    ORDER BY qs.q
    """
)


@register("events_session_duration_quantiles", _SESS_DUR_ORACLE)
def events_session_duration_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 session duration on the 60 s grid (see
    _SESS_DUR_ORACLE)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    sess = (
        bda_op.sessionize_relational(ev)
        .groupBy("user_id", "session_idx")
        .agg((F.max("ts_us") - F.min("ts_us")).alias("dur_us"))
    )
    buckets = sess.groupBy(
        F.least(F.expr("dur_us DIV 60000000"), F.lit(10000)).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cum = buckets.withColumn("cc", F.sum("c").over(w))
    n = buckets.agg(F.sum("c").cast("long").alias("n_sessions"))
    qs = local_frame(spark, [(50,), (90,), (99,)], "q int")
    hit = F.when(
        F.col("cc") >= F.expr("(n_sessions * q + 99) DIV 100"),
        F.col("bucket"),
    )
    return (
        F.broadcast(qs).crossJoin(F.broadcast(n)).crossJoin(cum)
        .groupBy("q", "n_sessions")
        .agg(
            F.min(hit).cast("long").alias("bucket"),
            (F.min(hit) * 60).cast("long").alias("approx_secs"),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# r11: GROUPING SETS over the event stream — (type × weekday), the two
# one-dimensional profiles, and the global total in ONE fact scan
# (`df.groupingSets`, Spark 4's native API → a single Expand +
# hash-aggregate; the margins are NOT a re-scan). Weekday is pure
# integer arithmetic on the epoch-us clock ((day + 4) % 7, epoch day 0
# = Thursday) so both engines derive it identically — no timezone /
# locale dayofweek() semantics in the parity path. Value sums on the
# exact 1e-6 grid.
# ---------------------------------------------------------------------------

_EV_GSETS_ORACLE = _with_ms(
    """
    , evd AS (
      SELECT event_type,
             CAST((ts_us // 86400000000 + 4) % 7 AS INT) AS weekday,
             CAST(ROUND(value * 1000000) AS BIGINT)      AS v_micro
      FROM ev
    )
    SELECT
      CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END
        AS etype,
      CAST(CASE WHEN GROUPING(weekday) = 1 THEN -1 ELSE weekday END AS INT)
        AS weekday,
      CAST(GROUPING_ID(event_type, weekday) AS INT) AS gid,
      COUNT(*) AS n_events,
      CAST(SUM(v_micro) AS BIGINT) AS value_micro_sum
    FROM evd
    GROUP BY GROUPING SETS ((event_type, weekday), (event_type), (weekday), ())
    ORDER BY gid, etype, weekday
    """
)


@register("events_grouping_sets_profile", _EV_GSETS_ORACLE)
def events_grouping_sets_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four grouping sets over the event stream in one Expand plan
    (see the section comment)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    evd = ev.select(
        "event_type",
        F.expr("CAST((ts_us DIV 86400000000 + 4) % 7 AS INT)").alias("weekday"),
        F.round(F.col("value") * 1000000).cast("long").alias("v_micro"),
    )
    return (
        evd.groupingSets(
            [["event_type", "weekday"], ["event_type"], ["weekday"], []],
            "event_type", "weekday",
        )
        .agg(
            F.grouping("event_type").alias("g_t"),
            F.grouping("weekday").alias("g_w"),
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_micro").cast("long").alias("value_micro_sum"),
        )
        .select(
            F.when(F.col("g_t") == 1, F.lit("ALL"))
            .otherwise(F.col("event_type")).alias("etype"),
            F.when(F.col("g_w") == 1, F.lit(-1))
            .otherwise(F.col("weekday")).cast("int").alias("weekday"),
            "gid", "n_events", "value_micro_sum",
        )
        .orderBy("gid", "etype", "weekday")
    )


# ---------------------------------------------------------------------------
# r11: AQE skew-join demonstration (VERDICT r10 item 6) — the bot-user
# attribution join: one user carries ~75% of the event stream, and the
# profile side (customer) is user-grain, i.e. NOT broadcastable at real
# scale (10^9 profiles). The scale answer is NOT salting here but
# Spark's own AQE skew-join split: the bot user's reducer partition is
# split by mapper ranges and the matching profile partition replicated.
# Plan-locked in tests/test_plans_scale.py with the split thresholds
# lowered to local-scale sizes. Findings baked into the lock (all
# empirically bisected on this Spark):
#   - the rule matches ONLY SMJ(Sort(shuffle), Sort(shuffle)) with
#     ENSURE_REQUIREMENTS origin on both sides — a pre-aggregated or
#     explicitly repartition()ed join input disqualifies it;
#   - a distinct-aggregate ABOVE the join also disqualifies it (the
#     Expand's required distribution pins the join's partitioning), so
#     this rollup is count/sum only;
#   - splitting happens on MAPPER boundaries: a single-mapper scan
#     (one parquet row group) cannot be split — fan_out's parallelism
#     exchange is what makes the skew handling possible at all.
# ---------------------------------------------------------------------------

_BOT_USER_ORACLE = _with_ms(
    """
    , hot AS (
      SELECT CASE WHEN event_id % 4 != 0 THEN 0 ELSE user_id END AS eu,
             value
      FROM ev
    )
    SELECT c.c_nationkey                                   AS nation,
           COUNT(*)                                        AS n_events,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
                                                           AS value_micro
    FROM hot h JOIN customer c ON h.eu = c.c_custkey
    GROUP BY c.c_nationkey
    ORDER BY nation
    """
)


@register("aqe_skew_bot_user_join", _BOT_USER_ORACLE)
def aqe_skew_bot_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-user skewed join (see the section comment): 75% of events
    collapse onto user 0; the per-user profile join survives the skew
    via AQE's skew-join split at scale (plan-locked)."""
    from codex_africanus_spark.sources.tables import fan_out

    ev = tpch_ms.events_table(spark, sf_dir)
    cu = fan_out(load(spark, "customer", sf_dir))
    hot = ev.select(
        F.when(F.col("event_id") % 4 != 0, F.lit(0))
        .otherwise(F.col("user_id")).alias("eu"),
        "value",
    )
    return (
        hot.join(cu, hot["eu"] == cu["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("long"))
            .alias("value_micro"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# r11: latest-per-key compaction view — the materialized-upsert read
# every CDC consumer derives from an append-only event log ("current
# state = newest row per key"): deterministic row_number over
# (ts DESC, event_id DESC) per (user, type), then a state census per
# type. The window and the census share one shuffle key family; at
# 100 TB this is the standard log->state compaction (the snapshot
# sink's MERGE is the write-side of the same shape).
# ---------------------------------------------------------------------------

_LATEST_STATE_ORACLE = _with_ms(
    """
    , ranked AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v_micro,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT event_type,
           COUNT(*) AS n_keys,
           CAST(SUM(v_micro) AS BIGINT) AS latest_value_micro_sum,
           CAST(SUM(CASE WHEN v_micro > 50000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hot
    FROM ranked WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """
)


@register("events_latest_state_compaction", _LATEST_STATE_ORACLE)
def events_latest_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-to-current-state compaction + per-type census (see the
    section comment)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    ranked = ev.select(
        "user_id", "event_type",
        F.round(F.col("value") * 1000000).cast("long").alias("v_micro"),
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("v_micro").cast("long").alias("latest_value_micro_sum"),
            F.sum((F.col("v_micro") > 50000000).cast("int")).cast("long")
            .alias("n_hot"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# r12 (r11 verdict item 6): NEW plan shapes.
#
# events_native_session_window — Spark's native session_window aggregate
# (the MergingSessions plan node, first appearance in the registry; the
# batch form of the streaming session-gap operator). Semantics
# (EMPIRICAL, locked by tests/test_round12_fixes.py's boundary test): a
# gap of EXACTLY the session timeout still merges — Spark compares the
# next start against the previous end inclusively — so a NEW session
# starts iff ts − prev_ts > gap (strict), which is the integer-exact
# island rule the DuckDB oracle replays on the ts_us grid. Session
# duration is taken as max(ts_us) − min(ts_us) INSIDE the session
# (never from the float window bounds), so both engines agree
# bit-for-bit.
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1800 * 1000000  # 30 min

_NATIVE_SESSION_ORACLE = _with_ms(
    f"""
    , marks AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                                ORDER BY ts_us, event_id)
                       > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
      FROM ev
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    ),
    per_session AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             MAX(ts_us) - MIN(ts_us) AS dur_us
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id % 10 AS user_decile,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(dur_us) AS BIGINT) AS dur_us_sum,
           CAST(MAX(dur_us) AS BIGINT) AS dur_us_max
    FROM per_session
    GROUP BY user_decile ORDER BY user_decile
    """
)


@register("events_native_session_window", _NATIVE_SESSION_ORACLE)
def events_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap sessions via the NATIVE session_window
    aggregate (see the section comment), collapsed to a per-user-decile
    engagement profile. Scale shape: session_window is a partial-merge
    aggregate (sessions merge map-side before the user_id exchange), so
    the shuffle carries open sessions, not raw events — the same reason
    the streaming form keeps bounded state."""
    ev = tpch_ms.events_table(spark, sf_dir)
    per_session = (
        ev.select(
            "user_id", "ts_us",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
        )
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
        )
    )
    return (
        per_session.groupBy((F.col("user_id") % 10).alias("user_decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("dur_us").cast("long").alias("dur_us_sum"),
            F.max("dur_us").cast("long").alias("dur_us_max"),
        )
        .orderBy("user_decile")
    )


# ---------------------------------------------------------------------------
# events_pit_feature_join — the POINT-IN-TIME feature join every
# training-data pipeline needs (leakage-free labels): for each
# 'purchase' label event, the user's latest STRICTLY-PRIOR 'click' and
# 'view' feature values. Implemented as ONE pass of last(ignoreNulls)
# windows over the per-user ordered stream — the scalable PIT form (no
# label×history join, no per-label scan; the window carries the running
# feature state exactly like a stream-static state join would). The
# strictly-prior contract is rowsBetween(unboundedPreceding, -1) under
# the total (ts_us, event_id) order — deterministic on ties.
# ---------------------------------------------------------------------------

_PIT_ORACLE = _with_ms(
    """
    , carried AS (
      SELECT event_id, user_id, ts_us, event_type,
             last_value(CASE WHEN event_type = 'click'
                             THEN CAST(ROUND(value * 100) AS BIGINT) END
                        IGNORE NULLS)
               OVER w AS last_click_c,
             last_value(CASE WHEN event_type = 'click' THEN ts_us END
                        IGNORE NULLS) OVER w AS last_click_ts,
             last_value(CASE WHEN event_type = 'view'
                             THEN CAST(ROUND(value * 100) AS BIGINT) END
                        IGNORE NULLS)
               OVER w AS last_view_c
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts_us,
           last_click_c, last_view_c,
           CAST((ts_us - last_click_ts) // 1000000 AS BIGINT)
             AS secs_since_click
    FROM carried WHERE event_type = 'purchase'
    ORDER BY event_id
    """
)


@register("events_pit_feature_join", _PIT_ORACLE)
def events_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free point-in-time feature join (see the section
    comment)."""
    ev = tpch_ms.events_table(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_c = F.when(
        F.col("event_type") == "click",
        F.round(F.col("value") * 100).cast("long"),
    )
    view_c = F.when(
        F.col("event_type") == "view",
        F.round(F.col("value") * 100).cast("long"),
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    carried = ev.select(
        "event_id", "user_id", "ts_us", "event_type",
        F.last(click_c, ignorenulls=True).over(w).alias("last_click_c"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
        F.last(view_c, ignorenulls=True).over(w).alias("last_view_c"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "ts_us", "last_click_c", "last_view_c",
            F.expr("CAST((ts_us - last_click_ts) DIV 1000000 AS BIGINT)")
            .alias("secs_since_click"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# events_variant_props_stats — semi-structured payload analytics through
# Spark's VARIANT type (parse_json + variant_get, first appearance in
# the registry): the event `props` JSON column is parsed once and the
# typed path `$.k` drives per-type stats. The oracle reads the same path
# with DuckDB's JSON extraction. All-integer outputs — no float leaves
# the JSON path.
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_max,
           CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k')
                              AS BIGINT) > 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
    FROM events
    GROUP BY event_type ORDER BY event_type
"""


@register("events_variant_props_stats", _VARIANT_ORACLE)
def events_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-path stats over the JSON payload via VARIANT (see the
    section comment). Scale shape: parse_json runs scan-side inside
    codegen; only (event_type, k) reach the aggregate — the payload
    never shuffles."""
    ev = load(spark, "events", sf_dir)
    k = F.expr(
        "CAST(variant_get(parse_json(props), '$.k', 'long') AS BIGINT)"
    )
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").cast("long").alias("k_min"),
            F.max("k").cast("long").alias("k_max"),
            F.sum((F.col("k") > 50).cast("int")).cast("long").alias("n_hot"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# events_cdc_dim_state_join — the stream-static broadcast-state join
# modeled batch-checkable (r11 verdict item 6): a user-segment dimension
# lives in the snapshot sink and REFRESHES by CDC appends (v1 initial
# load, v2/v3 incremental batches); the event stream processes in
# weekly refresh epochs, each epoch joining the dim STATE AS OF its
# version (exactly what a foreachBatch stream-static join does when it
# re-broadcasts the dim after consuming read_changes). Per (epoch,
# segment): event count, cent-grid value sum, and the epoch's
# CDC-delivered new-dim-row count — so the oracle checks BOTH the
# versioned join and the incremental feed. Unmatched events land in
# segment −1 (the late-arriving-dimension bucket).
#
# Dim contents derive from predicates the oracle replays:
#   v1: user_id % 4 != 3            → segment = user_id % 5
#   v2: user_id % 4 = 3 AND % 8 != 7 → segment = 5
#   v3: user_id % 8 = 7              → segment = 6
# Epoch = LEAST(days-since-corpus-epoch DIV 7, 2) on the exact ts_us
# grid (events start 2024-01-01 = 1704067200 s).
# ---------------------------------------------------------------------------

_CDC_EPOCH0_US = cdc_op.EPOCH0_US  # single source of truth (r13)
_CDC_WEEK_US = cdc_op.WEEK_US

_CDC_DIM_ORACLE = _with_ms(
    f"""
    , users AS (SELECT DISTINCT user_id FROM ev),
    dim AS (
      SELECT user_id,
             CASE WHEN user_id % 4 <> 3 THEN user_id % 5
                  WHEN user_id % 8 <> 7 THEN 5
                  ELSE 6 END AS segment,
             CASE WHEN user_id % 4 <> 3 THEN 0
                  WHEN user_id % 8 <> 7 THEN 1
                  ELSE 2 END AS arrival_epoch
      FROM users
    ),
    tagged AS (
      SELECT e.event_id, e.value,
             LEAST((e.ts_us - {_CDC_EPOCH0_US}) // {_CDC_WEEK_US}, 2)
               AS epoch,
             d.segment, d.arrival_epoch
      FROM ev e LEFT JOIN dim d ON d.user_id = e.user_id
    ),
    joined AS (
      SELECT epoch,
             CASE WHEN arrival_epoch IS NOT NULL AND arrival_epoch <= epoch
                  THEN segment ELSE -1 END AS segment,
             value
      FROM tagged
    ),
    ev_agg AS (
      SELECT epoch, segment,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS val_c_sum
      FROM joined GROUP BY epoch, segment
    ),
    dim_new AS (
      SELECT arrival_epoch AS epoch, segment,
             CAST(COUNT(*) AS BIGINT) AS n_dim_new
      FROM dim GROUP BY arrival_epoch, segment
    )
    SELECT a.epoch, a.segment, a.n_events, a.val_c_sum,
           CAST(COALESCE(n.n_dim_new, 0) AS BIGINT) AS n_dim_new
    FROM ev_agg a LEFT JOIN dim_new n
      ON n.epoch = a.epoch AND n.segment = a.segment
    ORDER BY a.epoch, a.segment
    """
)


@register("events_cdc_dim_state_join", _CDC_DIM_ORACLE)
def events_cdc_dim_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-refreshed versioned-dimension join (see the section comment).
    The dim states come from REAL snapshot reads (v1..v3 appends, each
    epoch pinned to its version) and the per-epoch increment from
    read_changes — the oracle replays the defining predicates."""
    import os
    import shutil
    import tempfile

    from codex_africanus_spark.sources import snapshot as snap

    ev = tpch_ms.events_table(spark, sf_dir)
    users = ev.select("user_id").distinct()
    root = (
        f"{tempfile.gettempdir()}/cas_snapshot/cdc_dim_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    seg = F.col("user_id") % 5
    v1 = snap.commit(
        users.filter(F.col("user_id") % 4 != 3)
        .select("user_id", seg.alias("segment")),
        root, mode="append",
    )
    v2 = snap.commit(
        users.filter((F.col("user_id") % 4 == 3) & (F.col("user_id") % 8 != 7))
        .select("user_id", F.lit(5).cast("long").alias("segment")),
        root, mode="append",
    )
    v3 = snap.commit(
        users.filter(F.col("user_id") % 8 == 7)
        .select("user_id", F.lit(6).cast("long").alias("segment")),
        root, mode="append",
    )
    # r13: plan built from the shared operators/cdc.py core — the
    # streaming twin (streaming/cdc.py) composes the SAME functions, so
    # batch/stream parity holds by construction (ops are unchanged from
    # the r12 inline form; the plan is identical).
    versions = [v1, v2, v3]
    states = cdc_op.pinned_states(spark, root, versions)
    ev_agg = cdc_op.agg_events(cdc_op.tag_events(ev, states))
    dim_new = cdc_op.dim_new_counts(spark, root, versions)
    return cdc_op.final_summary(ev_agg, dim_new)


# ---------------------------------------------------------------------------
# r13 (r12 verdict item 6): watermark/late-data semantics as a REGISTERED
# exact-oracle query — the streaming watermark drop rule, previously
# unit-only (tests/test_watermark_late_data.py), replayed batch-side
# with deterministic arrival batching. Arrival time gets a 0–3 h jitter
# from event_id (streams arrive roughly time-ordered, not exactly);
# arrival batches are hourly; the watermark for batch b is the running
# max event time over all PRIOR batches minus the 2 h delay — exactly
# Structured Streaming's rule (watermark advances on trigger commit,
# late rows drop before the stateful agg). Jitter 3 h > delay 2 h, so
# the corpus produces genuine drops.
# ---------------------------------------------------------------------------

_WM_JITTER_US = 1_800_000_000   # 0.5 h per event_id%7 step -> 0..3 h
_WM_BATCH_US = 3_600_000_000    # hourly arrival batches
_WM_DELAY_US = 7_200_000_000    # 2 h watermark delay
_WM_HOUR_US = 3_600_000_000

_WATERMARK_ORACLE = _with_ms(
    f"""
    , bat AS (
      SELECT (ts_us + (event_id % 7) * {_WM_JITTER_US}) // {_WM_BATCH_US}
               AS b,
             ts_us, value
      FROM ev
    ),
    bm AS (SELECT b, MAX(ts_us) AS bmax FROM bat GROUP BY b),
    wm AS (
      SELECT b,
             MAX(bmax) OVER (ORDER BY b
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) - {_WM_DELAY_US} AS wm
      FROM bm
    ),
    tagged AS (
      SELECT t.ts_us // {_WM_HOUR_US} AS hour_bin,
             (w.wm IS NOT NULL AND t.ts_us < w.wm) AS late,
             CAST(ROUND(t.value * 100) AS BIGINT) AS vc
      FROM bat t JOIN wm w ON w.b = t.b
    )
    SELECT hour_bin,
           CAST(COUNT(CASE WHEN NOT late THEN 1 END) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN NOT late THEN vc ELSE 0 END) AS BIGINT)
             AS val_c_sum,
           CAST(COUNT(CASE WHEN late THEN 1 END) AS BIGINT)
             AS n_late_dropped
    FROM tagged GROUP BY hour_bin ORDER BY hour_bin
    """
)


@register("events_watermark_late_drop", _WATERMARK_ORACLE)
def events_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-row drop replayed exactly (see section comment).
    Plan shape: batch-grain partial max (linear), ONE unpartitioned
    running-max window over the hourly-batch frame (rows = span hours —
    thousands, not events; the same bounded-axis argument as the
    sessionizers), then a shuffle join back to event grain and the
    tumbling agg. Streaming semantics source:
    streaming/windowed.py + tests/test_watermark_late_data.py."""
    ev = tpch_ms.events_table(spark, sf_dir)
    bat = ev.select(
        F.expr(
            f"(ts_us + (event_id % 7) * {_WM_JITTER_US}) DIV {_WM_BATCH_US}"
        ).alias("b"),
        "ts_us",
        "value",
    )
    bm = bat.groupBy("b").agg(F.max("ts_us").alias("bmax"))
    wmw = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    wm = bm.select(
        "b", (F.max("bmax").over(wmw) - F.lit(_WM_DELAY_US)).alias("wm")
    )
    tagged = bat.join(wm, "b").select(
        F.expr(f"ts_us DIV {_WM_HOUR_US}").alias("hour_bin"),
        (F.col("wm").isNotNull() & (F.col("ts_us") < F.col("wm")))
        .alias("late"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    return (
        tagged.groupBy("hour_bin")
        .agg(
            F.count(F.when(~F.col("late"), 1)).cast("long").alias("n_events"),
            F.sum(F.when(~F.col("late"), F.col("vc")).otherwise(F.lit(0)))
            .cast("long").alias("val_c_sum"),
            F.count(F.when(F.col("late"), 1)).cast("long")
            .alias("n_late_dropped"),
        )
        .orderBy("hour_bin")
    )


# ---------------------------------------------------------------------------
# r13 widening: SCD TYPE-2 dimension build — the warehouse
# slowly-changing-dimension shape the registry lacked: change detection
# (lag), version numbering (running sum of change flags), effective
# ranges (lead on the version frame), and per-version fact attribution,
# all from one event stream. Deterministic: a user's daily status is
# the event_type of their last event that day ((ts_us, event_id) total
# order — event_id unique), so both engines build the identical
# history.
# ---------------------------------------------------------------------------

_SCD2_DAY_US = 86_400_000_000

_SCD2_ORACLE = _with_ms(
    f"""
    , base AS (
      SELECT user_id, ts_us // {_SCD2_DAY_US} AS day, ts_us, event_id,
             event_type
      FROM ev WHERE user_id % 10 = 0
    ),
    picked AS (
      SELECT user_id, day, event_type,
             row_number() OVER (PARTITION BY user_id, day
                                ORDER BY ts_us DESC, event_id DESC) AS rk
      FROM base
    ),
    counts AS (
      SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM base GROUP BY user_id, day
    ),
    daily AS (
      SELECT p.user_id, p.day, p.event_type AS status, c.n_events
      FROM picked p JOIN counts c USING (user_id, day) WHERE p.rk = 1
    ),
    chg AS (
      SELECT user_id, day, status, n_events,
             CASE WHEN lag(status) OVER w IS NULL
                       OR status <> lag(status) OVER w
                  THEN 1 ELSE 0 END AS is_new
      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
    ),
    ver AS (
      SELECT user_id, day, status, n_events,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS version,
             MAX(day) OVER (PARTITION BY user_id) AS user_last_day
      FROM chg
    ),
    hist AS (
      SELECT user_id, CAST(version AS BIGINT) AS version,
             MIN(status) AS status, MIN(day) AS from_day,
             CAST(COUNT(*) AS BIGINT) AS n_days_active,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             MAX(user_last_day) AS user_last_day
      FROM ver GROUP BY user_id, version
    )
    SELECT user_id, version, status, from_day,
           COALESCE(lead(from_day) OVER (PARTITION BY user_id
                                         ORDER BY version) - 1,
                    user_last_day) AS to_day,
           n_days_active, n_events
    FROM hist ORDER BY user_id, version
    """
)


@register("user_status_scd2_history", _SCD2_ORACLE)
def user_status_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (section comment): per sampled user,
    contiguous same-status versions with [from_day, to_day] effective
    ranges and per-version event counts. All shuffles are user-keyed
    (daily collapse, change window, version rollup, range window) — at
    100 TB this is one partitioning reused across every stage; output
    is versions x sampled users, never event grain."""
    ev = tpch_ms.events_table(spark, sf_dir).filter(F.col("user_id") % 10 == 0)
    day = F.expr(f"ts_us DIV {_SCD2_DAY_US}")
    base = ev.select("user_id", day.alias("day"), "ts_us", "event_id",
                     "event_type")
    wday = W.partitionBy("user_id", "day").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    picked = (
        base.withColumn("rk", F.row_number().over(wday))
        .filter(F.col("rk") == 1)
        .select("user_id", "day", F.col("event_type").alias("status"))
    )
    counts = base.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    daily = picked.join(counts, ["user_id", "day"])
    wu = W.partitionBy("user_id").orderBy("day")
    chg = daily.withColumn(
        "is_new",
        F.when(
            F.lag("status").over(wu).isNull()
            | (F.col("status") != F.lag("status").over(wu)),
            1,
        ).otherwise(0),
    )
    ver = chg.select(
        "user_id", "day", "status", "n_events",
        F.sum("is_new").over(wu.rowsBetween(W.unboundedPreceding, 0))
        .alias("version"),
        F.max("day").over(W.partitionBy("user_id")).alias("user_last_day"),
    )
    hist = ver.groupBy("user_id", "version").agg(
        F.min("status").alias("status"),
        F.min("day").alias("from_day"),
        F.count(F.lit(1)).cast("long").alias("n_days_active"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.max("user_last_day").alias("user_last_day"),
    )
    wv = W.partitionBy("user_id").orderBy("version")
    return (
        hist.select(
            "user_id",
            F.col("version").cast("long").alias("version"),
            "status",
            "from_day",
            F.coalesce(
                F.lead("from_day").over(wv) - 1, F.col("user_last_day")
            ).alias("to_day"),
            "n_days_active",
            "n_events",
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# r13 widening: gap-fill with LINEAR INTERPOLATION — the resample form
# (pandas .resample().interpolate() / timescaledb interpolate()) of the
# zero-fill gap query: missing hours take the linear interpolant
# between the nearest present hours. Exact cross-engine: values
# interpolate on the integer cent grid with truncating integer
# division (Spark DIV and DuckDB // both truncate toward zero — the
# r10 parity note), so no float division ever crosses engines.
# ---------------------------------------------------------------------------

_INTERP_ORACLE = _with_ms(
    """
    , hourly AS (
      SELECT event_type, ts_us // 3600000000 AS h,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_c
      FROM ev GROUP BY event_type, h
    ),
    bounds AS (
      SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly
      GROUP BY event_type
    ),
    grid AS (
      SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM bounds
    ),
    filled AS (
      SELECT g.event_type, g.h, y.val_c,
             (y.val_c IS NOT NULL) AS present,
             CASE WHEN y.val_c IS NOT NULL THEN g.h END AS ph
      FROM grid g LEFT JOIN hourly y USING (event_type, h)
    ),
    ctx AS (
      SELECT event_type, h, val_c, present,
             last_value(val_c IGNORE NULLS) OVER wp AS prev_v,
             last_value(ph IGNORE NULLS) OVER wp AS prev_h,
             first_value(val_c IGNORE NULLS) OVER wn AS next_v,
             first_value(ph IGNORE NULLS) OVER wn AS next_h
      FROM filled
      WINDOW wp AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    interp AS (
      SELECT event_type, h, present,
             CASE WHEN present THEN val_c
                  ELSE prev_v + ((next_v - prev_v) * (h - prev_h))
                                // (next_h - prev_h)
             END AS v
      FROM ctx
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(COUNT(CASE WHEN NOT present THEN 1 END) AS BIGINT)
             AS n_interp_hours,
           CAST(SUM(CASE WHEN present THEN v ELSE 0 END) AS BIGINT)
             AS val_c_present,
           CAST(SUM(CASE WHEN NOT present THEN v ELSE 0 END) AS BIGINT)
             AS val_c_interp
    FROM interp GROUP BY event_type ORDER BY event_type
    """
)


@register("events_hourly_interp_resample", _INTERP_ORACLE)
def events_hourly_interp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample (section comment). Same
    span-bounded discipline as the gap-fill: the grid Generate runs at
    type grain, the neighbor context is two IGNORE-NULLS windows over
    the grid frame (hours, not events), and only per-type statistics
    leave. Interior hours always have both neighbors — the grid ends
    are present hours by construction."""
    ev = tpch_ms.events_table(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.expr("ts_us DIV 3600000000").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long").alias("val_c")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    filled = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", "val_c",
        F.col("val_c").isNotNull().alias("present"),
        F.when(F.col("val_c").isNotNull(), F.col("h")).alias("ph"),
    )
    wp = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, 0
    )
    wn = W.partitionBy("event_type").orderBy("h").rowsBetween(
        0, W.unboundedFollowing
    )
    ctx = filled.select(
        "event_type", "h", "val_c", "present",
        F.last("val_c", ignorenulls=True).over(wp).alias("prev_v"),
        F.last("ph", ignorenulls=True).over(wp).alias("prev_h"),
        F.first("val_c", ignorenulls=True).over(wn).alias("next_v"),
        F.first("ph", ignorenulls=True).over(wn).alias("next_h"),
    )
    v = F.when(F.col("present"), F.col("val_c")).otherwise(
        F.col("prev_v")
        + F.expr("((next_v - prev_v) * (h - prev_h)) DIV (next_h - prev_h)")
    )
    return (
        ctx.select("event_type", "present", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.count(F.when(~F.col("present"), 1)).cast("long")
            .alias("n_interp_hours"),
            F.sum(F.when(F.col("present"), F.col("v")).otherwise(F.lit(0)))
            .cast("long").alias("val_c_present"),
            F.sum(F.when(~F.col("present"), F.col("v")).otherwise(F.lit(0)))
            .cast("long").alias("val_c_interp"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# r13: the TRUE Spark watermark rule as a registered exact-oracle query.
# events_watermark_late_drop replays a row-grain drop (ts < wm) — the
# stream-stream-join/dropDuplicatesWithinWatermark rule. The windowed-
# aggregation path Spark actually runs is WINDOW-grain with a one-batch
# filter lag and inclusive boundaries, empirically bisected this round
# (operators/watermark.py module docstring has the probe record). This
# query replays THAT rule, including append-mode finalization (the
# is_emitted flag = which windows the memory sink would hold at stream
# end); the real withWatermark plan is locked against it bit-for-bit in
# tests/test_streaming_window_drop.py.
# ---------------------------------------------------------------------------

_WMW_ORACLE = _with_ms(wm_op.window_drop_oracle_body())


@register("events_watermark_window_drop", _WMW_ORACLE)
def events_watermark_window_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-grain watermark drop/finalization replay (section
    comment). Plan shape: batch-grain partial max (linear), ONE
    unpartitioned running-max window with a 2-PRECEDING lag frame over
    the arrival-batch frame (rows = span batches — thousands, not
    events), a scalar final-watermark broadcast, then the event-grain
    join + tumbling agg."""
    return wm_op.window_drop_replay(tpch_ms.events_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# r13 (r12 verdict item 6): stream-static join consuming the BRANCH
# REGISTRY — the serving pattern the r12 branch-GC machinery exists
# for, now a registered driver-checked query: the dim commits v1, a
# serving branch pins it, the source OVERWRITES to v2 and is VACUUMED
# (v1's transaction dirs survive only through the branch's registry
# pin), and events join BOTH views. A registry bug reclaims v1 and the
# pinned read dies or forks — the oracle replays the two segment
# mappings from the defining predicates. The true stream-static form
# (readStream events x branch read, GC churn between batches) is
# locked in tests/test_branch_serving_gc.py.
# ---------------------------------------------------------------------------

_BRANCH_DIM_ORACLE = _with_ms(
    """
    SELECT e.user_id % 5 AS seg_pinned,
           (e.user_id * 3 + 1) % 5 AS seg_head,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
             AS val_c_sum
    FROM ev e
    GROUP BY seg_pinned, seg_head
    ORDER BY seg_pinned, seg_head
    """
)


@register("events_branch_dim_serving_join", _BRANCH_DIM_ORACLE)
def events_branch_dim_serving_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch-pinned dim serving join (see section comment). Both dim
    reads broadcast (bounded by distinct users); the event scan joins
    twice without reshuffling its own grain."""
    import os
    import shutil
    import tempfile

    from codex_africanus_spark.sources import snapshot as snap

    ev = tpch_ms.events_table(spark, sf_dir)
    users = ev.select("user_id").distinct()
    root = f"{tempfile.gettempdir()}/cas_snapshot/branch_dim_{os.getpid()}"
    branch = root + "_serve"
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(branch, ignore_errors=True)
    snap.commit(
        users.select("user_id", (F.col("user_id") % 5).alias("segment")),
        root, mode="overwrite",
    )                                             # v1
    snap.create_branch(root, branch)              # serving pin at v1
    snap.commit(
        users.select(
            "user_id", ((F.col("user_id") * 3 + 1) % 5).alias("segment")
        ),
        root, mode="overwrite",
    )                                             # v2: segment remap
    snap.vacuum(root, retain_from_version=2)      # v1 survives via registry
    pin = snap.read_snapshot(spark, branch).select(
        "user_id", F.col("segment").alias("seg_pinned")
    )
    head = snap.read_snapshot(spark, root).select(
        "user_id", F.col("segment").alias("seg_head")
    )
    return (
        ev.join(F.broadcast(pin), "user_id")
        .join(F.broadcast(head), "user_id")
        .groupBy("seg_pinned", "seg_head")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
            .alias("val_c_sum"),
        )
        .orderBy("seg_pinned", "seg_head")
    )


# ---------------------------------------------------------------------------
# r13 widening: GAP-FILLED time series — per-type statistics of the dense
# hour grid. The oracle spells out the classic warehouse gap-fill (a
# generate_series grid LEFT JOINed to the sparse hourly counts); Spark
# reads the same statistics off the sparse counts in one aggregate, so
# the oracle checks it independently. Output stays per-type (bounded).
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = _with_ms(
    """
    , hourly AS (
      SELECT event_type, ts_us // 3600000000 AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY event_type, h
    ),
    bounds AS (
      SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly
      GROUP BY event_type
    ),
    grid AS (
      SELECT b.event_type, g.g AS h
      FROM bounds b, LATERAL unnest(generate_series(b.h0, b.h1)) AS g(g)
    ),
    filled AS (
      SELECT g.event_type, g.h, COALESCE(y.n, 0) AS n
      FROM grid g LEFT JOIN hourly y
        ON y.event_type = g.event_type AND y.h = g.h
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(COUNT(CASE WHEN n = 0 THEN 1 END) AS BIGINT) AS n_gap_hours,
           CAST(MAX(n) AS BIGINT) AS peak_hour_events,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM filled GROUP BY event_type ORDER BY event_type
    """
)


@register("events_hourly_gap_fill", _GAPFILL_ORACLE)
def events_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly activity profile (see section comment), built
    from the shared operators/gapfill.py core: the streaming incremental
    twin composes the same functions, parity by construction."""
    ev = tpch_ms.events_table(spark, sf_dir)
    return gapfill_op.gap_fill_stats(gapfill_op.hourly_counts(ev))

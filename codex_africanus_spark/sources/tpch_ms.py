"""Deterministic MS-shaped frames derived from the driver's star schema.

The reference operates on Measurement-Set-shaped tables (FIXTURES.md T1-T5);
the driver's testdata is TPC-H-ish. This module derives MS-shaped columns
(uvw, antennas, time, channel, frequency, flags, weights, visibilities,
source catalogue) from the synthetic tables with *engine-independent
integer/float arithmetic*, so every astronomy operator can be demonstrated
as a query whose DuckDB oracle derives the identical frame.

Each builder is one `selectExpr` over Spark SQL expression strings, and
its DuckDB mirror, a paired `*_SQL` CTE string, sits right below it;
tests/test_derived_frames.py asserts value equality between the two at
sf0.001. The strings build the same analyzed plan the equivalent Column
trees would, with one parse instead of a py4j round trip per operator,
so they keep the Column trees' operand order and association and write
double literals with a `D` suffix (a bare `10.0` is a DECIMAL in Spark
SQL).

Scale note: `vis` derives 1:1 from lineitem (the fact table) with pure
narrow projections — no shuffle, no UDF — so at 100 TB this layer is free:
it fuses into the parquet scan under whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from codex_africanus_spark.sources.tables import load

N_ANT = 7
N_CHAN_BASE = 8  # freq = 856 MHz * (1 + chan/8)
REF_FREQ = 856e6


# --------------------------------------------------------------------------
# vis main table  (from lineitem; FIXTURES.md T1 analogue)
# --------------------------------------------------------------------------

def vis_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS main-table analogue: one visibility sample per lineitem row.

    The raw scan is fanned out BEFORE the derivation so the per-row
    arithmetic runs at cluster parallelism (the testdata parquet is a
    single unsplittable row group; see tables.fan_out) — the narrow raw
    columns are the cheapest thing to exchange."""
    from codex_africanus_spark.sources.tables import fan_out

    raw = load(spark, "lineitem", sf_dir)
    exprs = _vis_exprs(epoch_us_sql(raw, "l_shipdate"))
    out = fan_out(raw).selectExpr(*exprs)
    # unfanned twin (identical rows, no round-robin exchange) for
    # consumers that only need a tiny aggregate, built on first use —
    # see tables.scan_twin
    out._scan_twin = lambda: raw.selectExpr(*exprs)
    return out


def _vis_exprs(epoch_us: str) -> tuple[str, ...]:
    cents = "CAST(round(l_extendedprice * 100) AS BIGINT)"
    a = f"CAST(l_suppkey % {N_ANT} AS INT)"
    b = f"CAST(l_partkey % {N_ANT} AS INT)"
    chan = "CAST(l_linenumber - 1 AS INT)"
    return (
        "l_orderkey * 8 + l_linenumber AS row_id",
        f"CAST(CAST(({epoch_us}) / 1000000 AS BIGINT) AS DOUBLE) AS time",
        f"least({a}, {b}) AS antenna1",
        f"greatest({a}, {b}) AS antenna2",
        f"({cents} % 2001 - 1000) / 10.0D AS u",
        "((l_partkey * 37) % 2001 - 1000) / 10.0D AS v",
        "((l_suppkey * 73) % 201 - 100) / 10.0D AS w",
        f"{chan} AS chan",
        f"{REF_FREQ!r}D * ({chan} / 8.0D + 1) AS frequency",
        "l_orderkey % 13 = 0 AS flag_row",
        "(l_orderkey + l_linenumber) % 11 = 0 AS flag",
        "1.0D + l_orderkey % 5 AS weight",
        "(1.0D + l_partkey % 3) / 2.0D AS sigma",
        "l_quantity AS vis_re",
        f"({cents} % 100) / 10.0D AS vis_im",
        "l_quantity AS interval",
    )


VIS_SQL = """
  SELECT l_orderkey * 8 + l_linenumber                        AS row_id,
         CAST(CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 1000000 AS BIGINT) AS DOUBLE) AS time,
         LEAST(l_suppkey % 7, l_partkey % 7)                  AS antenna1,
         GREATEST(l_suppkey % 7, l_partkey % 7)               AS antenna2,
         (CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 2001 - 1000) / 10.0 AS u,
         ((l_partkey * 37) % 2001 - 1000) / 10.0              AS v,
         ((l_suppkey * 73) % 201 - 100) / 10.0                AS w,
         l_linenumber - 1                                     AS chan,
         856000000.0 * (1 + (l_linenumber - 1) / 8.0)         AS frequency,
         (l_orderkey % 13 = 0)                                AS flag_row,
         ((l_orderkey + l_linenumber) % 11 = 0)               AS flag,
         1.0 + (l_orderkey % 5)                               AS weight,
         (1.0 + (l_partkey % 3)) / 2.0                        AS sigma,
         l_quantity                                           AS vis_re,
         (CAST(ROUND(l_extendedprice * 100) AS BIGINT) % 100) / 10.0 AS vis_im,
         l_quantity                                           AS interval
  FROM lineitem
"""


# --------------------------------------------------------------------------
# source catalogue  (from nation — fixed 25 rows at every SF; T3 analogue)
# --------------------------------------------------------------------------

def source_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = "CAST(n_nationkey AS BIGINT)"
    l = f"({k} - 12) / 200.0D"
    m = f"(({k} * 7) % 25 - 12) / 250.0D"
    return load(spark, "nation", sf_dir).selectExpr(
        f"CAST({k} AS INT) AS source_id",
        f"{l} AS l",
        f"{m} AS m",
        f"sqrt(1.0D - ({l}) * ({l}) - ({m}) * ({m})) AS n",
        f"1.0D + {k} % 5 AS flux_i",
        f"({k} % 3 - 1) / 4.0D AS flux_q",
        f"(({k} * 3) % 5 - 2) / 8.0D AS flux_u",
        f"(({k} * 11) % 7 - 3) / 10.0D AS flux_v",
        f"({k} % 7 - 3) / 10.0D AS spi",
        f"{REF_FREQ!r}D AS ref_freq",
        f"CASE WHEN {k} % 3 = 0 THEN 'GAUSSIAN' ELSE 'POINT' END AS source_type",
        f"({k} % 4 + 1) * 4.84813681109536E-6D AS emaj",
        f"({k} % 4 + 1) * 4.84813681109536E-6D * 0.5D AS emin",
        f"{k} * 0.3D AS position_angle",
    )


SOURCE_SQL = """
  SELECT CAST(n_nationkey AS INT)                              AS source_id,
         (n_nationkey - 12) / 200.0                            AS l,
         ((n_nationkey * 7) % 25 - 12) / 250.0                 AS m,
         sqrt(1.0 - ((n_nationkey - 12) / 200.0) * ((n_nationkey - 12) / 200.0)
                  - (((n_nationkey * 7) % 25 - 12) / 250.0) * (((n_nationkey * 7) % 25 - 12) / 250.0)) AS n,
         1.0 + (n_nationkey % 5)                               AS flux_i,
         (n_nationkey % 3 - 1) / 4.0                           AS flux_q,
         ((n_nationkey * 3) % 5 - 2) / 8.0                     AS flux_u,
         ((n_nationkey * 11) % 7 - 3) / 10.0                   AS flux_v,
         (n_nationkey % 7 - 3) / 10.0                          AS spi,
         856000000.0                                           AS ref_freq,
         CASE WHEN n_nationkey % 3 = 0 THEN 'GAUSSIAN' ELSE 'POINT' END AS source_type,
         (1 + n_nationkey % 4) * 4.84813681109536e-6           AS emaj,
         (1 + n_nationkey % 4) * 4.84813681109536e-6 * 0.5     AS emin,
         n_nationkey * CAST(0.3 AS DOUBLE)                     AS position_angle
  FROM nation
"""


# --------------------------------------------------------------------------
# gains table  (antenna × chan; T4 analogue, diagonal complex gain)
# --------------------------------------------------------------------------

def _axis(spark: SparkSession, n: int, name: str) -> DataFrame:
    """0..n-1 as one INT column."""
    return spark.range(n).selectExpr(f"CAST(id AS INT) AS {name}")


def gains_table(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Small dimension table (n_ant × n_chan rows) — always broadcast."""
    g = _axis(spark, N_ANT, "antenna").crossJoin(_axis(spark, N_CHAN_BASE - 1, "chan"))
    phase = "(antenna * 7 + chan) * 0.05D"
    phase_y = f"{phase} + 0.1D"
    amp = "(1.0D + antenna / 50.0D + chan / 100.0D)"
    # trig differs at 1 ULP between JVM Math and libm — quantize to 9dp so
    # the frame is engine-reproducible (both engines round half-away-from-0)
    return g.selectExpr(
        "antenna",
        "chan",
        f"round({amp} * cos({phase}), 9) AS gain_re",
        f"round({amp} * sin({phase}), 9) AS gain_im",
        # second polarization (diagonal 2×2 Jones: gx ≠ gy)
        f"round({amp} * cos({phase_y}), 9) AS gain_y_re",
        f"round({amp} * sin({phase_y}), 9) AS gain_y_im",
    )


GAINS_SQL = """
  SELECT CAST(a.range AS INT)  AS antenna,
         CAST(c.range AS INT)  AS chan,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * cos((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE)), 9) AS gain_re,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * sin((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE)), 9) AS gain_im,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * cos((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE) + CAST(0.1 AS DOUBLE)), 9) AS gain_y_re,
         round((1.0 + a.range / 50.0 + c.range / 100.0) * sin((a.range * 7 + c.range) * CAST(0.05 AS DOUBLE) + CAST(0.1 AS DOUBLE)), 9) AS gain_y_im
  FROM range(7) a, range(7) c
"""


# --------------------------------------------------------------------------
# antenna table  (ITRF XYZ positions; MS ANTENNA subtable analogue — the
# POSITION column consumed by the reference's parallactic-angle backends,
# parangles.py:31-33: "(ant, 3) in metres in the ITRF frame")
# --------------------------------------------------------------------------

def antenna_table(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """N_ANT rows of deterministic ITRF-ish XYZ near a southern-hemisphere
    site (KAT-7-like geocentric magnitudes) — integer-derived offsets so
    the frame is engine-reproducible without trig."""
    k = "CAST(antenna AS BIGINT)"
    return _axis(spark, N_ANT, "antenna").selectExpr(
        "antenna",
        f"5109224.0D + {k} * 13.5D AS ant_x",
        f"2006790.0D + (({k} * {k}) % 11) * 7.25D AS ant_y",
        f"-3239100.0D + {k} * 5.75D AS ant_z",
    )


ANTENNA_SQL = """
  SELECT CAST(a.range AS INT)                       AS antenna,
         5109224.0 + a.range * 13.5                 AS ant_x,
         2006790.0 + ((a.range * a.range) % 11) * 7.25 AS ant_y,
         -3239100.0 + a.range * 5.75                AS ant_z
  FROM range(7) a
"""


# --------------------------------------------------------------------------
# DDE gains table  (time_bin × antenna × chan × direction; the gains shape
# of the calibration kernels — reference corrupt_vis/compute_and_corrupt_vis
# index jones as [utime, ant, chan, dir])
# --------------------------------------------------------------------------

def dde_gains_table(
    spark: SparkSession, time_bins: DataFrame, dirs: DataFrame
) -> DataFrame:
    """Direction-dependent, time-binned diagonal gains.

    `time_bins` is the distinct-bin frame derived from vis (the analogue of
    the reference's `unique_time` axis, utils.py:45-70); `dirs` carries one
    `source_id` per calibration direction. The product is still a small
    dimension table (bins × 7 ant × 7 chan × n_dir) — always broadcast."""
    g = (
        time_bins.crossJoin(_axis(spark, N_ANT, "antenna"))
        .crossJoin(_axis(spark, N_CHAN_BASE - 1, "chan"))
        .crossJoin(dirs.select("source_id"))
    )
    amp = (
        "(1.0D + antenna / 40.0D + chan / 90.0D + source_id / 30.0D"
        " + (time_bin % 7) / 60.0D)"
    )
    ph = "(time_bin % 5) * 0.13D + antenna * 0.11D + chan * 0.07D + source_id * 0.19D"
    # 9dp quantization: engine-reproducible trig (see gains_table note)
    return g.selectExpr(
        "time_bin",
        "antenna",
        "chan",
        "source_id",
        f"round({amp} * cos({ph}), 9) AS g_re",
        f"round({amp} * sin({ph}), 9) AS g_im",
    )


def dde_gains_sql(time_bins_cte: str, dirs_cte: str) -> str:
    """DuckDB mirror of dde_gains_table; `time_bins_cte`/`dirs_cte` name
    CTEs providing (time_bin) and (source_id) rows."""
    return f"""
  SELECT t.time_bin,
         CAST(a.range AS INT) AS antenna,
         CAST(c.range AS INT) AS chan,
         d.source_id,
         round((1.0 + a.range / 40.0 + c.range / 90.0 + d.source_id / 30.0 + (t.time_bin % 7) / 60.0)
               * cos((t.time_bin % 5) * CAST(0.13 AS DOUBLE) + a.range * CAST(0.11 AS DOUBLE)
                     + c.range * CAST(0.07 AS DOUBLE) + d.source_id * CAST(0.19 AS DOUBLE)), 9) AS g_re,
         round((1.0 + a.range / 40.0 + c.range / 90.0 + d.source_id / 30.0 + (t.time_bin % 7) / 60.0)
               * sin((t.time_bin % 5) * CAST(0.13 AS DOUBLE) + a.range * CAST(0.11 AS DOUBLE)
                     + c.range * CAST(0.07 AS DOUBLE) + d.source_id * CAST(0.19 AS DOUBLE)), 9) AS g_im
  FROM {time_bins_cte} t, range(7) a, range(7) c, {dirs_cte} d
"""


# --------------------------------------------------------------------------
# events-as-stream table (timestamps as exact integer microseconds)
# --------------------------------------------------------------------------

def epoch_us_sql(df: DataFrame, col: str) -> str:
    """Exact integer epoch-µs from whatever physical type a timestamp
    column landed as: TIMESTAMP(MICROS) parquet reads as timestamp_ntz
    (or timestamp when NTZ inference is off — internally UTC µs either
    way), legacy TIMESTAMP(NANOS) reads as nanos-as-long. All three give
    the same integer grid DuckDB's epoch_us() produces, with no
    session-timezone dependence (an NTZ→TZ cast would silently shift by
    the session zone if the engine confs ever fail to apply)."""
    t = dict(df.dtypes).get(col)
    if t == "timestamp_ntz":
        return f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
    if t == "timestamp":
        return f"unix_micros({col})"
    return f"{col} DIV 1000"  # nanos-as-long legacy read


def events_ts_us(ev: DataFrame) -> Column:
    return F.expr(epoch_us_sql(ev, "ts"))


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as exact integer epoch-microseconds — the common
    exact grid between Spark and the DuckDB oracle (see events_ts_us)."""
    ev = load(spark, "events", sf_dir)
    return ev.selectExpr(
        "event_id",
        f"{epoch_us_sql(ev, 'ts')} AS ts_us",
        "user_id",
        "event_type",
        "value",
    )


EVENTS_SQL = """
  SELECT event_id,
         CAST(epoch_us(ts) AS BIGINT) AS ts_us,
         user_id,
         event_type,
         value
  FROM events
"""

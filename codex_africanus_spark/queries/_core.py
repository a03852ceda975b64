"""Shared query-registry infrastructure: QueryDef, register(),
registry() driver-window ordering, the MS CTE prelude, and every helper
used by more than one domain module. Mechanically extracted from the
former single-module queries.py (round 9); behavior-identical."""


from __future__ import annotations
from dataclasses import dataclass
from typing import Callable, Optional
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from codex_africanus_spark.sources import tpch_ms
import functools

@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


# Shared CTE prelude for MS-shaped oracles
_MS_CTES = (
    f"vis AS ({tpch_ms.VIS_SQL}), src AS ({tpch_ms.SOURCE_SQL}), "
    f"gains AS ({tpch_ms.GAINS_SQL}), ev AS ({tpch_ms.EVENTS_SQL})"
)


def _with_ms(sql: str) -> str:
    return f"WITH {_MS_CTES} {sql}"


def dense_or_distinct_bins(
    df: DataFrame, col: str, max_dense: int = 1 << 16
) -> DataFrame:
    """One-column bin-axis frame for synthesizing dimension tables.

    Dense `spark.range(lo, hi+1)` when the span is bounded (min/max is a
    partial-aggregate scan — no value shuffle), falling back to
    `distinct` when the axis is sparse or wide (a dense range over a
    10⁶-wide time axis would silently explode the synthesized
    bins×ant×chan×dir gains table). Empty/fully-filtered input yields an
    empty axis rather than a TypeError on a None bound. The bounds are
    read once per file version (`tables.collect_small`)."""
    from codex_africanus_spark.sources.tables import collect_small

    lo, hi = collect_small(df.agg(F.min(col), F.max(col)), 1)[0]
    spark = df.sparkSession
    if lo is None:
        return spark.range(0).select(F.col("id").alias(col))
    if hi - lo + 1 > max_dense:
        return df.select(col).distinct()
    return spark.range(lo, hi + 1).select(F.col("id").alias(col))


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: Optional[str]):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn, oracle)
        return fn

    return deco


_AVG_ORACLE = _with_ms(
    """
    , binned AS (
      SELECT antenna1, antenna2,
             CAST(FLOOR(time / 604800.0) AS BIGINT) AS time_bin,
             CAST(chan // 2 AS INT)                 AS chan_bin,
             time, interval, vis_re, vis_im, weight,
             (flag OR flag_row) AS f
      FROM vis
    )
    SELECT antenna1, antenna2, time_bin, chan_bin,
           COUNT(*) AS nsamples,
           SUM(CAST(ROUND(time) AS BIGINT)) / COUNT(*) AS time_avg,
           SUM(CAST(ROUND(interval*100) AS BIGINT)) / 100.0 AS interval_sum,
           (CASE WHEN MIN(CAST(f AS INT)) = 1
                 THEN SUM(CAST(ROUND(CASE WHEN f THEN vis_re*weight ELSE 0.0 END * 100) AS BIGINT))
                 ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN vis_re*weight ELSE 0.0 END * 100) AS BIGINT)) END)
           / (CASE WHEN MIN(CAST(f AS INT)) = 1
                 THEN SUM(CAST(ROUND(CASE WHEN f THEN weight ELSE 0.0 END * 100) AS BIGINT))
                 ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN weight ELSE 0.0 END * 100) AS BIGINT)) END) AS vis_re_avg,
           (CASE WHEN MIN(CAST(f AS INT)) = 1
                 THEN SUM(CAST(ROUND(CASE WHEN f THEN vis_im*weight ELSE 0.0 END * 100) AS BIGINT))
                 ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN vis_im*weight ELSE 0.0 END * 100) AS BIGINT)) END)
           / (CASE WHEN MIN(CAST(f AS INT)) = 1
                 THEN SUM(CAST(ROUND(CASE WHEN f THEN weight ELSE 0.0 END * 100) AS BIGINT))
                 ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN weight ELSE 0.0 END * 100) AS BIGINT)) END) AS vis_im_avg,
           (CASE WHEN MIN(CAST(f AS INT)) = 1
                 THEN SUM(CAST(ROUND(CASE WHEN f THEN weight ELSE 0.0 END * 100) AS BIGINT))
                 ELSE SUM(CAST(ROUND(CASE WHEN NOT f THEN weight ELSE 0.0 END * 100) AS BIGINT)) END) / 100.0 AS weight_sum,
           (MIN(CAST(f AS INT)) = 1) AS bin_flag
    FROM binned
    GROUP BY antenna1, antenna2, time_bin, chan_bin
    ORDER BY antenna1, antenna2, time_bin, chan_bin
    """
)


@functools.lru_cache(maxsize=1)
def _driver_green_now() -> frozenset:
    """Driver-green set, replayed from the CORRECTNESS_r*.json files the
    driver has written into the repo root, in round order: a green row
    adds the query, a failing/erroring row REMOVES it (so regressions
    cycle back into the verification head automatically). A rows-only
    (no-oracle) row with no failure is NEUTRAL: it neither promotes nor
    evicts, so a query verified green in an earlier round is not
    permanently pinned into the bounded head by a later weaker check.
    Cached per process — the files only change between rounds."""
    import glob
    import json
    import os

    green: set[str] = set()
    # queries/ is a package now: repo root is THREE levels up
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            if rec.get("err") is None and rec.get("hash_match") is True:
                green.add(name)
            elif (
                rec.get("err") is not None
                or rec.get("rows_match") is False
                or rec.get("schema_match") is False
                or rec.get("hash_match") is False
            ):
                # genuinely failed or errored — back into the head
                green.discard(name)
            # else: rows-only check with no failure — neutral
    return frozenset(green)


def registry() -> dict[str, QueryDef]:
    """Full query registry, ordered for the driver's bounded verification
    window: queries the CORRECTNESS replay does not mark green (never
    driver-tested, or regressed) first, then the driver-green remainder,
    each in registration order."""
    green_set = _driver_green_now()
    fresh = {n: qd for n, qd in REGISTRY.items() if n not in green_set}
    green = {n: qd for n, qd in REGISTRY.items() if n in green_set}
    return {**fresh, **green}


_PA_FIELD = (0.1, -0.6)  # field centre (ra, dec) in rad — southern site

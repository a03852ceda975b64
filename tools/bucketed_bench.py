"""Persisted-bucketed layout benchmark: pay the shuffle once, amortize it.

Writes bucketed twins of lineitem/orders (bucketBy join key) into a
temporary database, then measures the orders⋈lineitem aggregate both
ways with bench.py's protocol (`bench.measure`), broadcast joins off:

  plain    — parquet scan → Exchange both sides → SortMergeJoin
  bucketed — bucketed scan → SortMergeJoin (zero Exchange below the join)

At 100 TB the bucketed layout is the difference between re-shuffling the
fact tables on every join and never shuffling them again; this script
measures the local[*] proxy of that and prints one JSON line.

Usage: python tools/bucketed_bench.py [sf_dir] [n_buckets]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure, timed  # noqa: E402
from codex_africanus_spark.session import get_spark  # noqa: E402

DB = "cas_bucketed_bench"


def _agg(li, orders):
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q"),
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    warehouse = tempfile.mkdtemp(prefix="cas_bucketed_")
    spark = get_spark("bucketed-bench")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    spark.sql(f"CREATE DATABASE {DB} LOCATION '{warehouse}'")
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )

        def layout():
            for df, key, table in ((li, "l_orderkey", "li_b"),
                                   (orders, "o_orderkey", "o_b")):
                (
                    df.write.bucketBy(n_buckets, key).sortBy(key)
                    .mode("overwrite").saveAsTable(f"{DB}.{table}")
                )

        def bucketed_agg():
            return _agg(spark.table(f"{DB}.li_b"), spark.table(f"{DB}.o_b"))

        layout_s = timed(spark, layout)
        plain = measure(spark, lambda: _agg(li, orders)).best
        bucketed = measure(spark, bucketed_agg).best
        plan = bucketed_agg()._jdf.queryExecution().executedPlan().toString()
        # the session may plan a shuffled-hash join; both keep bucketing
        join_part = re.split("SortMergeJoin|ShuffledHashJoin", plan)[-1]
        join_free = "Exchange" not in join_part
        print(json.dumps({
            "metric": "bucketed_join_speedup",
            "plain_join_sec": round(plain, 3),
            "bucketed_join_sec": round(bucketed, 3),
            "layout_cost_sec": round(layout_s, 3),
            "joins_to_amortize": (
                round(layout_s / max(plain - bucketed, 1e-9), 1)
            ),
            "join_exchange_free": join_free,
            "n_buckets": n_buckets,
            "sf_dir": sf_dir,
        }))
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
        shutil.rmtree(warehouse, ignore_errors=True)


if __name__ == "__main__":
    main()

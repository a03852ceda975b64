#!/usr/bin/env python
"""Per-stage profile of one or more bench queries (guide §1/§7).

Runs each query once (noop sink) in a UI-enabled session, then reads the
Spark status REST API for per-stage metrics: executor run time, shuffle
read/write bytes, input bytes, task count. Prints a table per query so
the expensive stage — and whether its time is compute vs shuffle — is
visible without the interactive UI.

Usage:
    python tools/profile_bench.py name1[,name2,...] [SF_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from codex_africanus_spark.queries import registry  # noqa: E402

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)


def get_spark_ui(app_name: str = "profile-bench"):
    from codex_africanus_spark.session import CONFS, DEFAULT_CPUS
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{DEFAULT_CPUS}]")
        .appName(app_name)
        .config(map=dict(CONFS))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .getOrCreate()
    )


def api(path: str):
    with urllib.request.urlopen(f"http://localhost:4049/api/v1{path}") as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1].split(",")
    spark = get_spark_ui()
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    app_id = spark.sparkContext.applicationId
    # warm footers
    spark.read.parquet(os.path.join(SF_DIR, "nation.parquet")).count()

    for name in names:
        if name not in reg:
            print(f"## {name}: NOT IN REGISTRY")
            continue
        # one untimed warm-up to JIT, then the measured run
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        reg[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        before = {s["stageId"] for s in api(f"/applications/{app_id}/stages")}
        spark.sparkContext.setJobDescription(f"measured:{name}")
        t0 = time.perf_counter()
        df = reg[name].fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        stages = [
            s
            for s in api(f"/applications/{app_id}/stages")
            if s["stageId"] not in before and s["status"] == "COMPLETE"
        ]
        stages.sort(key=lambda s: -(s.get("executorRunTime") or 0))
        total_run = sum(s.get("executorRunTime") or 0 for s in stages)
        print(f"\n## {name}: wall {wall:.3f}s  stages={len(stages)}  "
              f"sum(executorRunTime)={total_run/1000.0:.2f}s")
        print(f"{'stage':>6} {'tasks':>5} {'run_ms':>8} {'cpu_ms':>8} {'in_MB':>7} "
              f"{'shR_MB':>7} {'shW_MB':>7}  name")
        for s in stages[:14]:
            nm = (s.get("name") or "")[:60].replace("\n", " ")
            print(
                f"{s['stageId']:>6} {s['numCompleteTasks']:>5} "
                f"{s.get('executorRunTime', 0):>8} "
                f"{(s.get('executorCpuTime', 0) or 0)//1_000_000:>8} "
                f"{(s.get('inputBytes', 0) or 0)/1e6:>7.1f} "
                f"{(s.get('shuffleReadBytes', 0) or 0)/1e6:>7.1f} "
                f"{(s.get('shuffleWriteBytes', 0) or 0)/1e6:>7.1f}  {nm}"
            )
    spark.stop()


if __name__ == "__main__":
    main()

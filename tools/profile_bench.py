#!/usr/bin/env python
"""Per-stage profile of one or more bench queries (guide §1/§7).

Measures each query with bench.py's protocol (`bench.measure`), then
reads Spark's status store for the stages of the last timed execution:
executor run and CPU time, input and shuffle read/write bytes, task
count. Prints a table per query so the expensive stage — and whether its
time is compute vs shuffle — is visible without the Spark UI. Beside it
goes the CPU time the JVM's child processes (the Python workers) used in
that execution, read from /proc: work Python UDF stages do outside the
executor's own CPU counters.

Usage:
    python tools/profile_bench.py name1[,name2,...] [SF_DIR]
"""

from __future__ import annotations

import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402

from bench import measure  # noqa: E402
from codex_africanus_spark.queries import registry  # noqa: E402
from codex_africanus_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's descendant processes (the
    Python daemon and its workers), their reaped children included."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listed
            continue
        parent[int(name)] = int(fields[1])
        # utime, stime, and the reaped children's cutime, cstime
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    tree, grew = {jvm_pid}, True
    while grew:
        kids = {pid for pid, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    tree.discard(jvm_pid)
    return sum(cpu.get(pid, 0) for pid in tree) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    names = sys.argv[1].split(",")
    spark = get_spark("profile-bench")
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    reg = registry()

    for name in names:
        if name not in reg:
            print(f"## {name}: NOT IN REGISTRY")
            continue
        build, marks = partial(reg[name].fn, spark, SF_DIR), []

        def marked():
            # each execution starts with its build: the last mark opens
            # the last timed execution
            marks.append(worker_cpu_s(jvm_pid))
            return build()

        m = measure(spark, marked)
        workers = worker_cpu_s(jvm_pid) - marks[-1]
        (_, s0), (_, s1) = m.ids[-2:]  # the last timed execution
        stages = []
        for sid in range(s0, s1):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped: never submitted
                continue
            if st.status().toString() == "COMPLETE":
                stages.append(st)
        stages.sort(key=lambda s: -s.executorRunTime())
        total_run = sum(s.executorRunTime() for s in stages)
        print(f"\n## {name}: wall {m.warm[-1]:.3f}s  stages={len(stages)}  "
              f"sum(executorRunTime)={total_run/1000.0:.2f}s  "
              f"python_workers_cpu={workers:.2f}s")
        print(f"{'stage':>6} {'tasks':>5} {'run_ms':>8} {'cpu_ms':>8} {'in_MB':>7} "
              f"{'shR_MB':>7} {'shW_MB':>7}  name")
        for s in stages[:14]:
            nm = (s.name() or "")[:60].replace("\n", " ")
            print(
                f"{s.stageId():>6} {s.numCompleteTasks():>5} "
                f"{s.executorRunTime():>8} "
                f"{s.executorCpuTime() // 1_000_000:>8} "
                f"{s.inputBytes() / 1e6:>7.1f} "
                f"{s.shuffleReadBytes() / 1e6:>7.1f} "
                f"{s.shuffleWriteBytes() / 1e6:>7.1f}  {nm}"
            )
    spark.stop()


if __name__ == "__main__":
    main()

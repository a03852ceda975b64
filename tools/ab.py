"""Paired-worktree A/B perf harness (r13 verdict item 10).

Cross-session wall-clock comparisons on this box are NOT comparable (the
same code measured rime_compiled at 28.4 s vs 36.1 s in two sessions on
one day — JIT/codegen state, Python-worker warmth, page cache and AQE
variance dominate). Every perf claim therefore runs BOTH trees from ONE
process on ONE SparkSession, interleaved A,B,B,A,A,B,... so host drift
and the order of the two trees within a round both cancel:

    git worktree add /tmp/r13head <baseline-ref>
    python tools/ab.py /tmp/r13head q5_region_revenue,rime_compiled_predict \
        [SF_DIR] [--runs N] > AB.json

Per query: one untimed warm-up per tree, then `--runs` (default bench.RUNS)
timed executions per tree, interleaved, each one `bench.timed` noop-sink
execution; the tree that runs first alternates from round to round. Per
tree the min (`a_sec`, `b_sec`, and their ratio), the median and the
interquartile range of the timed walls are reported. The session's cores
come from SPARK_GRAFT_CPUS, as for every tool.
Tree switching purges `codex_africanus_spark` from sys.modules and swaps
sys.path, then applies that tree's `configure_session` so runtime-settable
conf changes under test take effect (static confs cannot differ — the
session is shared by design; measure those with two full bench runs).
"""
import argparse
import json
import os
import statistics
import sys

TREE_B = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, TREE_B)

from bench import RUNS, SF_DIR, noop, timed  # noqa: E402


def load_tree(path: str, trees):
    """Swap the active engine tree: purge modules, re-point sys.path."""
    for m in list(sys.modules):
        if m.split(".")[0] == "codex_africanus_spark":
            del sys.modules[m]
    sys.path[:] = [p for p in sys.path if p not in trees]
    sys.path.insert(0, path)
    from codex_africanus_spark.queries import registry
    from codex_africanus_spark.session import configure_session
    return registry(), configure_session


def spread(walls: list[float]) -> tuple[float, float]:
    """(median, interquartile range) of one tree's timed walls."""
    if len(walls) < 2:
        return walls[0], 0.0
    q1, _, q3 = statistics.quantiles(walls, n=4, method="inclusive")
    return statistics.median(walls), q3 - q1


def main() -> None:
    ap = argparse.ArgumentParser(
        usage="python tools/ab.py TREE_A q1,q2,... [SF_DIR] [--runs N]",
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("tree_a", help="baseline worktree")
    ap.add_argument("queries", help="comma-separated registry names")
    ap.add_argument("sf_dir", nargs="?", default=SF_DIR)
    ap.add_argument("--runs", type=int, default=RUNS)
    args = ap.parse_args()
    trees = {"a": os.path.abspath(args.tree_a), "b": TREE_B}

    # session from tree B (HEAD); runtime confs re-applied per tree below
    from codex_africanus_spark.session import DEFAULT_CPUS, get_spark
    spark = get_spark("ab-harness")

    out = {"sf_dir": args.sf_dir, "runs": args.runs, "cpus": DEFAULT_CPUS,
           "tree_a": trees["a"], "tree_b": trees["b"], "queries": {}}
    for name in args.queries.split(","):
        walls: dict[str, list[float]] = {key: [] for key in trees}

        def once(key):
            reg, conf = load_tree(trees[key], trees.values())
            conf(spark)
            return timed(spark, lambda: noop(reg[name].fn(spark, args.sf_dir)))

        for r in range(args.runs + 1):  # r == 0: warm-up, once per tree
            for key in (("a", "b") if r % 2 == 0 else ("b", "a")):
                wall = once(key)
                if r:
                    walls[key].append(wall)
        best = {key: min(w) for key, w in walls.items()}
        rec = {"a_sec": round(best["a"], 3), "b_sec": round(best["b"], 3),
               "speedup_b_over_a": round(best["a"] / best["b"], 3)}
        for key in trees:
            med, iqr = spread(walls[key])
            rec[f"{key}_median_sec"] = round(med, 3)
            rec[f"{key}_iqr_sec"] = round(iqr, 3)
        out["queries"][name] = rec
        print(f"# {name}: a={rec['a_sec']} b={rec['b_sec']} "
              f"x{rec['speedup_b_over_a']} median a={rec['a_median_sec']} "
              f"[iqr {rec['a_iqr_sec']}] b={rec['b_median_sec']} "
              f"[iqr {rec['b_iqr_sec']}]", file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

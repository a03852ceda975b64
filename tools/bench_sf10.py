"""r11 verdict item 2: a genuine 100x-scale bench point. Times the
work-dominated headline queries at /tmp/sf10 (60M lineitem rows / 5M
docs; generate with `python tools/gen_sf1.py /tmp/sf10 100`) and runs
each query's DuckDB oracle twin in a KILLABLE subprocess with a
timeout, so a twin that cannot finish at this scale is recorded as
such instead of hanging the bench.

Spark side: bench.py's protocol (`bench.measure`) with one timed run
after the warm-up, so two executions per query fit the sf10 wall
budget; each execution's watchdog cancels all jobs after
bench.BUDGET_S. The bench.py calibration probe brackets the run for
weather adjudication.

Usage: python tools/bench_sf10.py [SF_DIR] [only1,only2,...] > BENCH_sf10.json
       (the optional second arg restricts the run to a subset of WORK —
       used for before/after re-measures of a single repaired query;
       --no-twins anywhere in argv skips the DuckDB twin pass — for
       Spark-side-only A/B re-measures where the twin numbers are
       already on record and forfeiting twins would burn 420 s each)
"""
import json
import os
import re
import subprocess
import sys
from functools import partial

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import Cancelled, calibrate, loadavg, measure  # noqa: E402
from codex_africanus_spark.queries import registry  # noqa: E402
from codex_africanus_spark.session import get_spark  # noqa: E402

ARGS = [a for a in sys.argv[1:] if a != "--no-twins"]
RUN_TWINS = "--no-twins" not in sys.argv
SF_DIR = ARGS[0] if len(ARGS) > 0 else "/tmp/sf10"
TWIN_TIMEOUT_S = 420    # per-oracle DuckDB subprocess timeout

WORK = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "gp_phase_screen_corrupt",
    "time_and_channel_average",
    "ms_row_average_full",
    "time_and_channel_average_full",
    "predict_vis_point_gauss",
    "predict_full_corr_2x2",
    "rime_compiled_predict",
    "compute_and_corrupt_vis_dde",
    "beam_dde_full_predict",
    "bda_salted_average",
    "minhash_lsh_near_dup_pairs",
    "prefix_filter_jaccard_join",
    # r12 (verdict item 5): broaden the measured set — ANN serving,
    # CLEAN, the calibration solver, and a grouping-lattice shape
    "ann_ivf_topk",
    "hogbom_clean_components",
    "gauss_newton_phase_solve",
    "lineitem_rollup_pricing",
    # r13 continuation: the clustering primitives joined the measured
    # set once the Arrow assignment tier + sqrt cap landed (ROADMAP r14
    # note: "if either joins the sf10 bench set, apply the template")
    "kmeans_nscaled_stats",
    "semantic_dedup_embeddings",
]
if len(ARGS) > 1:
    only = set(ARGS[1].split(","))
    WORK = [w for w in WORK if w in only]


_TWIN_PROG = r"""
import sys, time, duckdb
sf_dir, sql = sys.argv[1], sys.stdin.read()
con = duckdb.connect()
con.execute("SET threads TO 32")
# r13: long queries trip duckdb's progress bar, which emits \r-framed
# block glyphs into the SAME stdout line as the timing print and broke
# two twin parses in the r13 run
con.execute("SET enable_progress_bar = false")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    import os
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
t0 = time.perf_counter()
n = len(con.execute(sql).fetchall())
print(f"{time.perf_counter()-t0:.3f} {n}")
"""


def time_twin(sql: str) -> tuple:
    try:
        r = subprocess.run(
            [sys.executable, "-c", _TWIN_PROG, SF_DIR],
            input=sql, capture_output=True, text=True,
            timeout=TWIN_TIMEOUT_S,
        )
        if r.returncode != 0:
            return None, f"error: {r.stderr.strip()[-200:]}"
        # environment hooks may prepend OR append noise to stdout: take
        # the last line matching the program's exact "<sec> <rows>"
        # shape rather than blindly splitting the tail tokens (r11
        # ADVICE: appended noise or an empty rc=0 stdout must surface
        # as an error tuple, not a silent mis-parse / bench abort)
        # split on \r too: a progress bar rewrites the line in place, so
        # the timing print can share its physical line with bar glyphs
        # (belt to the enable_progress_bar=false suspenders above)
        m = [seg.strip() for ln in r.stdout.splitlines()
             for seg in ln.split("\r")
             if re.fullmatch(r"[\d.]+ \d+", seg.strip())]
        if not m:
            return None, f"unparseable stdout: {r.stdout.strip()[-120:]!r}"
        dt, n = m[-1].split()
        return float(dt), int(n)
    except subprocess.TimeoutExpired:
        return None, f"timeout>{TWIN_TIMEOUT_S}s"


def main() -> None:
    spark = get_spark("codex-africanus-spark-bench-sf10")
    reg = registry()
    out = {
        "metric": "sf10_work_dominated_wall_time",
        "unit": "sec",
        "sf": 10.0,
        "loadavg_before": loadavg(),
        "calib_before_sec": calibrate(spark),
        "queries": {},
        "twins": {},
    }
    for name in WORK:
        try:
            m = measure(spark, partial(reg[name].fn, spark, SF_DIR), runs=1)
            out["queries"][name] = round(m.best, 3)
        except Cancelled as e:
            out["queries"][name] = str(e)
        except Exception as e:  # noqa: BLE001
            out["queries"][name] = f"{type(e).__name__}: {e}"[:200]
        print(f"# {name}: {out['queries'][name]}", file=sys.stderr, flush=True)
    out["calib_after_sec"] = calibrate(spark)
    out["loadavg_after"] = loadavg()
    spark.stop()
    # give DuckDB its best shot where a faster equivalent replay exists
    # (BASELINE.md r10 protocol: the salted-BDA timed twin is the
    # anchor-chain fast twin, bit-equal to the registered oracle)
    from codex_africanus_spark.queries import msops

    twin_override = {"bda_salted_average": msops._SBDA_FAST_TWIN}
    for name in WORK if RUN_TWINS else []:
        o = twin_override.get(name) or reg[name].oracle
        if o is None:
            continue
        dt, n = time_twin(o)
        out["twins"][name] = {"sec": dt, "rows_or_err": n}
        print(f"# twin {name}: {dt} {n}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

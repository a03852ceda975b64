"""Driver-style rehearsal: plain SparkSession, import __spark_entry__ via
importlib (run from OUTSIDE the repo, e.g. /tmp, to catch sys.path and
cloudpickle assumptions), execute each query AND its DuckDB oracle,
compare values order-insensitively and bit-exactly (mirrors the driver's
CORRECTNESS hash).

Usage:
    cd /tmp && python /root/repo/tools/rehearse.py [SF_DIR] [name1,name2,...]
    # default SF_DIR /root/testdata/sf0.01 (the driver's correctness scale);
    # no names = full registry; the literal name list `--tier1` expands
    # to TIER1 below (the sf1.0 sweep membership). Exit status: 0 all ok,
    # 1 some query failed, 2 a name is not in the registry (nothing runs).
"""
import importlib.util
import sys
import time

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

# The work-dominated tier-1 sweep set (r9 sf1.0 validation sweep
# membership, persisted per the r9 verdict so the recorded result is
# auditable): every query whose engine-side work SCALES with the fact
# tables — all 22 TPC-H shapes, the predict/RIME family, calibration,
# averaging/flagging, FFT/DFT imaging, gridding stats, and the event
# sessionizers. Excluded tiers: dedup/ANN (tier 2 — individually timed,
# index-build-dominated), BDA recursive-CTE oracles (tier 3 — DuckDB
# replay cost, not engine cost), and sub-second dimension-grain
# diagnostics. Run with:  python tools/rehearse.py /tmp/sf1 --tier1
# (generate /tmp/sf1 first via tools/gen_sf1.py).
TIER1 = (
    "q1_pricing_summary,q2_min_cost_supplier,q3_shipping_priority,"
    "q4_order_priority_exists,q5_region_revenue,q6_forecast_revenue,"
    "q7_volume_shipping,q8_market_share,q9_product_profit,"
    "q10_returned_items,q11_important_stock,q12_shipping_delay,"
    "q13_customer_distribution,q14_promo_revenue,q15_top_supplier,"
    "q16_supplier_part_counts,q17_small_quantity_revenue,"
    "q18_large_volume_customers,q19_disjunctive_pushdown,"
    "q20_promo_part_suppliers,q21_blocking_returns,q22_idle_customers,"
    "topk_parts_by_revenue,union_source_catalogues,"
    "predict_vis_point_gauss,predict_full_corr_2x2,"
    "corrupt_vis_apply_gains,compute_and_corrupt_vis_dde,"
    "rime_compiled_predict,rime2x2_compiled_predict,"
    "rime_custom_term_predict,rime_custom_transformer_predict,"
    "rime_tec_screen_predict,rime_feed_rotation_predict,"
    "rime_shapelet_predict,beam_dde_full_predict,faceted_mosaic_predict,"
    "gauss_newton_phase_solve,correct_vis_inverse_gains,"
    "residual_vis_data_minus_model,gp_phase_screen_corrupt,"
    "phase_delay_factor,rephase_visibilities,fringe_stop_apply,"
    "faraday_rm_correction,van_vleck_correction,"
    "polarization_leakage_apply,feed_rotation_full_sandwich,"
    "time_and_channel_average,time_and_channel_average_full,"
    "ms_row_average_full,scan_time_average,noise_weighted_average,"
    "merge_flags_row_chan,baseline_weighted_median_amp,"
    "sumthreshold_rfi_flags,flag_grow_extend,flagged_channel_interp,"
    "fft_dirty_image,fft_psf_image,fft_residual_grid,"
    "hogbom_clean_components,dft_vis_to_im_adjoint,"
    "dft_im_to_vis_forward,uv_grid_histogram,uv_taper_response,"
    "grid_kernel_sinc,estimate_cell_size,briggs_robust_weights,"
    "mfs_taylor_term_grids,facet_wproj_kernel_sweep,events_sessionize,"
    "events_sessionize_salted,events_tumbling_window,"
    "events_attribution_interval_join"
).split(",")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
if ONLY == ["--tier1"]:
    ONLY = list(TIER1)

spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)

q, o = mod.queries(), mod.oracle_sql()
names = ONLY if ONLY else list(q)
unknown = [n for n in names if n not in q]
if unknown:
    # a typo is a usage error, not a query failure: stop before any Spark work
    print("unknown query names:", ", ".join(unknown), file=sys.stderr)
    sys.exit(2)

from codex_africanus_spark.session import driver_memory  # noqa: E402

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", driver_memory())
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == bool:
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def dtype_class(dt):
    kind = getattr(dt, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "M": "datetime"}.get(kind, "object")


fails = []
t_all = time.time()
for i, name in enumerate(names):
    t0 = time.time()
    try:
        sdf = q[name](spark, SF_DIR).toPandas()
        if name not in o:
            print(f"[{i+1}/{len(names)}] {name}: rows={len(sdf)} (rows-only) {time.time()-t0:.1f}s")
            continue
        odf = con.execute(o[name]).df()
        assert len(sdf) == len(odf), f"rows {len(sdf)} vs {len(odf)}"
        assert sorted(sdf.columns) == sorted(odf.columns), f"schema {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        left, right = normalize(sdf), normalize(odf)
        kl = {c: dtype_class(left[c].dtype) for c in left.columns}
        kr = {c: dtype_class(right[c].dtype) for c in right.columns}
        assert kl == kr, f"dtype class {[(c, kl[c], kr[c]) for c in kl if kl[c] != kr[c]]}"
        pd.testing.assert_frame_equal(left, right, check_dtype=False, rtol=0, atol=0)
        for c in left.columns:
            if left[c].dtype.kind == "f" and right[c].dtype.kind == "f":
                bad = int((left[c].to_numpy().view(np.int64) != right[c].to_numpy().view(np.int64)).sum())
                assert bad == 0, f"{c}: {bad} bit-level float mismatches"
        print(f"[{i+1}/{len(names)}] {name}: OK rows={len(sdf)} {time.time()-t0:.1f}s")
    except Exception as e:
        fails.append((name, str(e)[:300]))
        print(f"[{i+1}/{len(names)}] {name}: FAIL {str(e)[:300]}")

print(f"\ntotal {time.time()-t_all:.0f}s; {len(names)-len(fails)}/{len(names)} ok")
for n, e in fails:
    print("FAIL", n, e)
sys.exit(1 if fails else 0)

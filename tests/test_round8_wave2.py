"""Semantic property locks for the round-8 wave-2 operators
(sumthreshold / flag grow / channel interp / uv taper / triplets /
reliability bins / RFM / Markov) — beyond the oracle parity the driver
checks, these pin the *algorithm* on hand-built cases with known
answers."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from codex_africanus_spark.operators import flagging as flag_op
from codex_africanus_spark.operators import similarity as sim_op
from codex_africanus_spark.queries import registry


def _mkvis(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                antenna1=r.get("a1", 0),
                antenna2=r.get("a2", 1),
                chan=r.get("chan", 0),
                time=float(r.get("time", 0)),
                vis_re=float(r.get("re", 10.0)),
                vis_im=float(r.get("im", 0.0)),
                flag=bool(r.get("flag", False)),
                flag_row=bool(r.get("flag_row", False)),
            )
            for r in rows
        ]
    )


# ---------------------------------------------------------------------------
# SumThreshold
# ---------------------------------------------------------------------------


def test_sumthreshold_tiers(spark):
    """A bright singleton trips M=1; a faint persistent 4-run trips M=4
    but never M=1; quiet samples trip nothing."""
    rows = []
    # quiet background: amps 10 at times 0..19
    for t in range(20):
        rows.append({"time": t, "re": 10.0})
    # bright singleton at t=30 (amp 45 > chi1=40)
    rows.append({"time": 30, "re": 45.0})
    # faint persistent run at t=50..53: amp 30 < 40 but mean 30 > chi4≈17.8
    for t in range(50, 54):
        rows.append({"time": t, "re": 30.0})
    out = flag_op.sumthreshold_flags(_mkvis(spark, rows)).collect()[0]
    assert out.n_cells == 25
    assert out.n_m1 == 1  # only the 45
    # the 4-run is caught by the wide window (and drags its own members
    # only — the quiet cells around it are separated in the ROWS frame
    # only by position, and 30+10 pairs stay under 2*chi2)
    assert out.n_m4 >= 4
    assert out.n_flagged >= 5
    # quiet-only series: nothing flags
    quiet = flag_op.sumthreshold_flags(
        _mkvis(spark, [{"time": t, "re": 10.0} for t in range(20)])
    ).collect()[0]
    assert quiet.n_flagged == 0


def test_sumthreshold_thresholds_follow_rho():
    th = flag_op.st_thresholds()
    assert th[1] == flag_op.ST_CHI1
    assert th[2] == round(flag_op.ST_CHI1 / 1.5)
    assert th[4] == round(flag_op.ST_CHI1 / 2.25)


# ---------------------------------------------------------------------------
# Flag grow / extend
# ---------------------------------------------------------------------------


def test_flag_grow_stages(spark):
    """One flagged cell mid-series grows to 3 in time; with 7 channels
    all clean, chan grow adds the 2 channel neighbours of each; a
    majority-flagged spectrum extends to all 7 channels."""
    rows = []
    for t in range(7):
        for c in range(7):
            rows.append({"time": t, "chan": c, "flag": (t == 3 and c == 3)})
    out = flag_op.flag_grow_extend(_mkvis(spark, rows)).collect()[0]
    assert out.n_pre == 1
    assert out.n_time_grow == 3          # t=2,3,4 at c=3
    assert out.n_chan_grow == 9          # + c=2,4 at each of the 3 times
    assert out.n_final == 9              # 3/7 < 1/2: no spectrum extension
    # majority-flagged spectrum: 4 of 7 chans at t=0 -> whole spectrum
    rows2 = [
        {"time": t, "chan": c, "flag": (t == 0 and c < 4)}
        for t in range(3)
        for c in range(7)
    ]
    out2 = flag_op.flag_grow_extend(_mkvis(spark, rows2)).collect()[0]
    # time grow reaches t=1, chan grow adds c=4 there; at t=0 chan grow
    # gives c<5 = 5 of 7 > 1/2 -> extends to 7; t=1 has 5 of 7 -> 7 too
    assert out2.n_final == 14


# ---------------------------------------------------------------------------
# Flagged-channel interpolation
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_channel_interp_linear_exact(spark):
    """Values linear in chan: the repaired middle cell lands exactly on
    the line; a flagged edge clamps; an all-flagged spectrum yields
    method 'none' and NULL fill."""
    rows = [
        {"time": 0, "chan": c, "re": 10.0 + 2.0 * c, "im": 1.0 * c,
         "flag": c == 3}
        for c in range(7)
    ]
    out = {r.chan: r for r in flag_op.flagged_channel_interp(_mkvis(spark, rows)).collect()}
    assert list(out) == [3]
    r = out[3]
    assert r.method == "interp"
    assert r.fill_re_q == 16_000_000  # 10 + 2*3
    assert r.fill_im_q == 3_000_000
    # flagged left edge -> clamp to the right neighbour
    rows2 = [
        {"time": 0, "chan": c, "re": 10.0 + 2.0 * c, "flag": c == 0}
        for c in range(4)
    ]
    r2 = flag_op.flagged_channel_interp(_mkvis(spark, rows2)).collect()[0]
    assert r2.method == "clamp_right" and r2.fill_re_q == 12_000_000
    # everything flagged -> no bracket at all
    rows3 = [{"time": 0, "chan": c, "flag": True} for c in range(3)]
    outs3 = flag_op.flagged_channel_interp(_mkvis(spark, rows3)).collect()
    assert all(r.method == "none" and r.fill_re_q is None for r in outs3)


def test_channel_interp_partial_cell_not_repaired(spark):
    """A cell is repaired only when ALL its samples are flagged (MIN
    semantics) — a half-flagged cell keeps its measured mean."""
    rows = [
        {"time": 0, "chan": 0, "re": 10.0},
        {"time": 0, "chan": 1, "re": 20.0, "flag": True},
        {"time": 0, "chan": 1, "re": 30.0, "flag": False},
        {"time": 0, "chan": 2, "re": 40.0},
    ]
    assert flag_op.flagged_channel_interp(_mkvis(spark, rows)).count() == 0


# ---------------------------------------------------------------------------
# uv taper
# ---------------------------------------------------------------------------


def test_uv_taper_table_matches_gaussian(spark, sf_dir):
    from codex_africanus_spark.queries.imaging import _TAPER_PPB

    for k, ppb in enumerate(_TAPER_PPB):
        mid = (k + 0.5) * 10.0
        want = round(math.exp(-(mid * mid) / (2 * 50.0 * 50.0)) * 1e9)
        assert ppb == want
    assert all(a > b for a, b in zip(_TAPER_PPB, _TAPER_PPB[1:]))
    out = registry()["uv_taper_response"].fn(spark, sf_dir).collect()
    for r in out:
        assert r.w_tap_ppb_sum <= r.w_nat_sum * 1_000_000_000
        assert r.taper_ppb == _TAPER_PPB[r.annulus]


# ---------------------------------------------------------------------------
# Contrastive triplets
# ---------------------------------------------------------------------------


def test_triplet_invariants(spark, sf_dir):
    from codex_africanus_spark.sources.tables import load

    emb = load(spark, "embeddings", sf_dir)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = sim_op.contrastive_triplets(emb).collect()
    assert len(out) == sum(1 for v in labels if v % 25 == 0)
    for r in out:
        assert r.pos_id != r.anchor_id and r.neg_id != r.anchor_id
        if r.pos_id != -1:
            assert labels[r.pos_id] == r.anchor_label
        if r.neg_id != -1:
            assert labels[r.neg_id] != r.anchor_label
        if r.semi_id != -1:
            assert labels[r.semi_id] != r.anchor_label
            assert r.semi_sim < r.pos_sim
            assert r.semi_sim <= r.neg_sim
        if r.pos_id != -1 and r.neg_id != -1:
            assert r.margin == pytest.approx(r.pos_sim - r.neg_sim, abs=1e-12)


# ---------------------------------------------------------------------------
# Reliability bins / RFM / Markov
# ---------------------------------------------------------------------------


def test_reliability_bins_partition_documents(spark, sf_dir):
    from codex_africanus_spark.sources.tables import load

    out = registry()["classifier_reliability_bins"].fn(spark, sf_dir).collect()
    n_docs = load(spark, "documents", sf_dir).count()
    assert sum(r.n_docs for r in out) == n_docs
    for r in out:
        assert 0 <= r.bin <= 9
        assert 0 <= r.acc_ppm <= 1_000_000 and 0 <= r.conf_ppm <= 1_000_000
        assert r.gap_ppm == abs(r.conf_ppm - r.acc_ppm)
        assert r.ece_term == r.n_docs * r.gap_ppm


def test_rfm_covers_all_users(spark, sf_dir):
    from codex_africanus_spark.sources import tpch_ms

    out = registry()["events_rfm_segmentation"].fn(spark, sf_dir).collect()
    n_users = tpch_ms.events_table(spark, sf_dir).select("user_id").distinct().count()
    assert sum(r.n_users for r in out) == n_users
    for r in out:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5


def test_markov_row_normalization(spark, sf_dir):
    out = registry()["events_markov_transitions"].fn(spark, sf_dir).collect()
    by_from = {}
    for r in out:
        by_from.setdefault(r.from_type, []).append(r)
    for ft, rows in by_from.items():
        total_ppm = sum(r.prob_ppm for r in rows)
        # floor division loses at most (n_targets - 1) ppm
        assert 1_000_000 - len(rows) < total_ppm <= 1_000_000


# ---------------------------------------------------------------------------
# Wave 3: pbcor / MFS taylor / gain QA / RAG packing
# ---------------------------------------------------------------------------


def test_pbcor_mask_and_ratio(spark, sf_dir):
    from codex_africanus_spark.queries.imaging import _PB_CUTOFF, _PB_R2

    def bg_exact(k):
        l = (k - 12) / 200.0
        m = ((k * 7) % 25 - 12) / 250.0
        raw = 1.0 - (l * l + m * m) / _PB_R2
        return raw * raw if raw > 0 else 0.0

    out = registry()["dft_image_pbcor"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    masked_ids, unmasked_ids = set(), set()
    for r in out:
        bg = bg_exact(r.source_id)
        assert r.beam_gain_q9 == int(bg * 1e9 + 0.5)
        if r.masked:
            assert r.pbcor_q6 is None and bg < _PB_CUTOFF
            masked_ids.add(r.source_id)
        else:
            assert r.pbcor_q6 == pytest.approx(r.image / bg * 1e6, abs=1.0)
            unmasked_ids.add(r.source_id)
    # the catalogue reaches beyond the beam: both classes must occur
    assert masked_ids and unmasked_ids
    # cross-check the mask against the closed-form source positions
    for k in range(25):
        l = (k - 12) / 200.0
        m = ((k * 7) % 25 - 12) / 250.0
        raw = 1.0 - (l * l + m * m) / _PB_R2
        bg = raw * raw if raw > 0 else 0.0
        want_masked = bg < _PB_CUTOFF
        if k in masked_ids:
            assert want_masked
        if k in unmasked_ids:
            assert not want_masked


def test_mfs_t0_partition_invariance(spark, sf_dir):
    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.sources import tpch_ms

    out = registry()["mfs_taylor_term_grids"].fn(spark, sf_dir)
    t0_total = out.agg(F.sum("t0_re_q")).collect()[0][0]
    vis = tpch_ms.vis_table(spark, sf_dir).filter(
        ~(F.col("flag") | F.col("flag_row"))
    )
    want = vis.agg(F.sum(quantize(F.col("vis_re"), 1e6))).collect()[0][0]
    assert t0_total == want


def test_gain_qa_closed_form(spark, sf_dir):
    import math as _m

    out = {r.antenna: r for r in registry()["gain_solution_qa_report"].fn(spark, sf_dir).collect()}
    amps = {}
    for a in range(7):
        for c in range(7):
            amp = 1.0 + a / 50.0 + c / 100.0
            re = round(amp * _m.cos((a * 7 + c) * 0.05), 9)
            im = round(amp * _m.sin((a * 7 + c) * 0.05), 9)
            q = _m.sqrt(re * re + im * im) * 1e9
            amps[(a, c)] = int(q + 0.5)
    g_sum = sum(amps.values())
    for a in range(7):
        ys = [amps[(a, c)] for c in range(7)]
        r = out[a]
        assert r.amp_sum_q9 == sum(ys)
        n, sx, sxx = 7, 21, 91
        sy, sxy = sum(ys), sum(c * y for c, y in enumerate(ys))
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        want_slope = num / den
        assert r.amp_slope_q9 == int(want_slope + (0.5 if want_slope >= 0 else -0.5))
        assert r.norm_factor_ppm == (g_sum * 7 * 1000000) // (sum(ys) * 49)


def test_rag_packing_budget_and_order(spark, sf_dir):
    from codex_africanus_spark.queries.corpus import _RAG_BUDGET

    out = registry()["rag_context_packing"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_term, []).append(r)
    assert by_q  # the vocab terms occur in the corpus
    for term, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(a.tf >= b.tf for a, b in zip(rows, rows[1:]))
        assert rows[-1].cum_tokens <= _RAG_BUDGET
        assert rows[-1].cum_tokens == sum(r.n_tokens for r in rows)


# ---------------------------------------------------------------------------
# Wave 4: delay decomposition / rule ablation / label centroids / bursts
# ---------------------------------------------------------------------------


def test_delay_decomposition_recovers_planted_screen(spark):
    """Plant a per-antenna delay screen tau (rad/chan), synthesize
    phases phi_pq = (tau_p - tau_q)*chan on every baseline, and check
    the closed-form decomposition returns the taus (rebased to ant 0)
    on the q12 grid."""
    from codex_africanus_spark.operators import calibration as cal

    taus = [0.0, 0.08, -0.05, 0.02, 0.11, -0.09, 0.04]
    rows = []
    for p in range(7):
        for q in range(p + 1, 7):
            for c in range(7):
                phi = (taus[p] - taus[q]) * c
                rows.append(
                    Row(
                        antenna1=p, antenna2=q, chan=c, time=0.0,
                        vis_re=math.cos(phi), vis_im=math.sin(phi),
                        flag=False, flag_row=False,
                    )
                )
    out = {r.antenna: r for r in cal.antenna_delay_decomposition(spark.createDataFrame(rows)).collect()}
    assert set(out) == set(range(7))
    for a in range(7):
        want = (taus[a] - taus[0]) * 1e12
        assert abs(out[a].tau_rel_q12 - want) < 5e3  # within quantization
        assert out[a].n_incident == 6
        assert out[a].resid_abs_sum_q12 < 5e4


def test_ablation_matrix_matches_python(spark, sf_dir):
    import pandas as pd

    out = registry()["filter_rule_ablation_matrix"].fn(spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    want = {}
    for _, d in docs.iterrows():
        toks = d.text.split(" ")
        nt = len(toks)
        f = [
            0 if 100 <= d.n_chars <= 2000 else 1,
            0 if len(set(toks)) * 10 >= nt * 6 else 1,
            0 if sum(1 for t in toks if t in ("the", "a")) * 20 >= nt else 1,
            0 if 3 * nt <= (d.n_chars - (nt - 1)) <= 8 * nt else 1,
        ]
        w = want.setdefault(d.source, [0] * 10)
        w[0] += 1
        for i in range(4):
            w[1 + i] += f[i]
            if f[i] == 1 and sum(f) == 1:
                w[5 + i] += 1
        if sum(f) == 0:
            w[9] += 1
    for _, r in out.iterrows():
        w = want[r.source]
        got = [r.n_docs, r.fail_len, r.fail_dup, r.fail_stop, r.fail_wlen,
               r.only_len, r.only_dup, r.only_stop, r.only_wlen, r.pass_all]
        assert [int(x) for x in got] == w, r.source


def test_label_centroid_matrix_shape(spark, sf_dir):
    import numpy as np
    import pandas as pd

    out = registry()["label_centroid_similarity_matrix"].fn(spark, sf_dir).toPandas()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    labels = sorted(emb.label.unique())
    n = len(labels)
    assert len(out) == n * (n - 1) // 2
    assert (out.centroid_cosine.abs() <= 1.0 + 1e-12).all()
    # exact recompute for the smallest pair, following the operator's
    # quantization order (per-dim int sums -> rational means -> q12 dot)
    la, lb = labels[0], labels[1]
    def centroid(lab):
        vecs = np.stack(emb[emb.label == lab].embedding.to_numpy())
        vq = np.round(vecs.astype("float64") * 1e6).astype("int64").sum(axis=0)
        return vq / (1e6 * len(vecs))
    ca, cb = centroid(la), centroid(lb)
    def qdot(a, b):
        return int(sum(int(round(x * y * 1e12)) for x, y in zip(a, b)))
    want = round(qdot(ca, cb) / (math.sqrt(qdot(ca, ca)) * math.sqrt(qdot(cb, cb))), 9)
    got = float(out[(out.label_a == la) & (out.label_b == lb)].centroid_cosine.iloc[0])
    assert got == want


def test_burst_flags_topk_shape(spark, sf_dir):
    out = registry()["events_rate_burst_flags"].fn(spark, sf_dir).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rows in by_type.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 5
        ratios = [r.rate_ratio_ppm for r in rows]
        assert ratios == sorted(ratios, reverse=True)
        for r in rows:
            assert r.trail_days >= 3
            assert r.burst == (1 if r.cnt * r.trail_days * 2 > 3 * r.trail_sum else 0)


def test_compaction_scan_reduces_files(spark, sf_dir):
    """The registry compaction query really does shrink the live file
    set: after it runs, the head version's manifest lists at most 2
    files while the pinned pre-compaction version lists at least 4
    (one per append)."""
    from codex_africanus_spark.sources import snapshot as snap

    out = registry()["snapshot_compaction_scan"].fn(spark, sf_dir).collect()
    phases = {r.phase for r in out}
    assert phases == {"pre", "post"}
    pre = {(r.l_returnflag): (r.n_rows, r.qty_c2) for r in out if r.phase == "pre"}
    post = {(r.l_returnflag): (r.n_rows, r.qty_c2) for r in out if r.phase == "post"}
    assert pre == post
    import tempfile

    root = f"{tempfile.gettempdir()}/cas_snapshot/compaction"
    head = snap.latest_version(root)
    assert len(snap.snapshot_files(root, head)) <= 2
    assert len(snap.snapshot_files(root, head - 1)) >= 4


def test_mfs_alpha_mask_and_ratio(spark, sf_dir):
    out = registry()["mfs_alpha_map"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        if r.masked:
            assert abs(r.t0_re_q) < 1_000_000 and r.alpha_q6 is None
        else:
            assert abs(r.t0_re_q) >= 1_000_000
            assert r.alpha_q6 == pytest.approx(r.t1_re_q / r.t0_re_q * 1e6, abs=1.0)


def test_hazard_curve_conservation(spark, sf_dir):
    from codex_africanus_spark.sources import tpch_ms

    out = registry()["events_hazard_curve"].fn(spark, sf_dir).collect()
    n_users = tpch_ms.events_table(spark, sf_dir).select("user_id").distinct().count()
    assert sum(r.churned for r in out) == n_users
    rows = sorted(out, key=lambda r: r.day_k)
    risks = [r.at_risk for r in rows]
    assert risks == sorted(risks, reverse=True)
    assert rows[0].at_risk == n_users  # everyone is at risk on day 0's curve start
    for r in rows:
        assert 0 <= r.hazard_ppm <= 1_000_000


def test_av_align_sawtooth(spark, sf_dir):
    """The as-of lag at incommensurate rates is exactly
    f_start mod hop-progression: lag = f_start - hop*floor(f_start/hop),
    always in [0, hop)."""
    out = registry()["multimodal_av_align_asof"].fn(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0 <= r.lag_bytes < 96
        assert r.a_start == 96 * (r.f_start // 96)
        assert r.win == r.f_start // 96
        assert r.f_start == 128 * r.frame_idx


def test_weighted_median_bracketing(spark, sf_dir):
    """The weighted median/p90 really are the crossing values: at least
    half (resp. >=10%) of the total weight sits at or below/above."""
    import pandas as pd

    from codex_africanus_spark.sources import tpch_ms
    from codex_africanus_spark.functions.deterministic import quantize

    out = {(r.antenna1, r.antenna2): r
           for r in registry()["baseline_weighted_median_amp"].fn(spark, sf_dir).collect()}
    vis = tpch_ms.vis_table(spark, sf_dir).filter("NOT (flag OR flag_row)")
    pdf = vis.select(
        "antenna1", "antenna2",
        quantize(F.sqrt(F.col("vis_re")**2 + F.col("vis_im")**2), 1e3).alias("amp_q"),
        F.col("weight").cast("long").alias("w"),
    ).toPandas()
    for (a1, a2), g in pdf.groupby(["antenna1", "antenna2"]):
        r = out[(a1, a2)]
        wt = g.w.sum()
        assert r.w_total == wt
        below = g[g.amp_q <= r.median_amp_q].w.sum()
        above = g[g.amp_q >= r.median_amp_q].w.sum()
        assert 2 * below >= wt and 2 * above >= wt  # true weighted median
        assert g[g.amp_q <= r.p90_amp_q].w.sum() * 10 >= 9 * wt

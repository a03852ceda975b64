"""Plan-audit tests: lock in the physical-plan properties the 100 TB
design depends on. A regression that turns a broadcast join into a
sort-merge shuffle or loses parquet pushdown should fail HERE, not in a
cluster bill.
"""

import re

from pyspark.sql import functions as F

from codex_africanus_spark.operators import predict as predict_op
from codex_africanus_spark.operators import predict_arrow
from codex_africanus_spark.queries import registry
from codex_africanus_spark.sources import tpch_ms
from codex_africanus_spark.sources.tables import load
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_predict_uses_broadcast_join_not_shuffle(spark, sf_dir, monkeypatch):
    """Both predict tiers stay shuffle-join free: the default Arrow fold
    has no source join at all, and the expand path (forced by a zero
    fold bound) broadcasts the catalogue."""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    plan = plan_of(predict_op.predict_point_vis(vis, src))
    assert "MapInArrow" in plan
    assert "SortMergeJoin" not in plan
    monkeypatch.setattr(predict_arrow, "ARROW_MAX_SRC", 0)
    plan = plan_of(predict_op.predict_point_vis(vis, src))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_predict_aggregation_is_partial_final(spark, sf_dir, monkeypatch):
    """The expand path's source reduction must be map-side partial + final
    hash agg — the property that keeps shuffle O(#groups) instead of
    O(#pairs). (The Arrow fold sums inside its kernel and has no
    aggregate: test_round14_arrow_predict locks that plan.)"""
    vis = tpch_ms.vis_table(spark, sf_dir)
    src = tpch_ms.source_table(spark, sf_dir)
    monkeypatch.setattr(predict_arrow, "ARROW_MAX_SRC", 0)
    plan = plan_of(predict_op.predict_point_vis(vis, src))
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_gains_join_is_broadcast(spark, sf_dir):
    plan = plan_of(registry()["corrupt_vis_apply_gains"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q6_filters_pushed_to_parquet(spark, sf_dir):
    plan = plan_of(registry()["q6_forecast_revenue"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull" in plan  # predicates reached the scan
    assert "GreaterThanOrEqual(l_shipda" in plan or "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_scan_prunes_columns(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    df = load(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_lsh_pairs_join_is_equi_not_cartesian(spark, sf_dir):
    plan = plan_of(registry()["minhash_lsh_near_dup_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_averaging_single_shuffle(spark, sf_dir):
    """time_and_channel is one groupBy ⇒ exactly one exchange (plus AQE
    reads); more would mean a redundant repartition crept in."""
    from codex_africanus_spark.operators import averaging as avg_op

    vis = tpch_ms.vis_table(spark, sf_dir)
    plan = plan_of(avg_op.time_and_channel(vis))
    assert plan.count("Exchange hashpartitioning") <= 1


def test_bucketed_join_needs_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed co-located join (the 100 TB strategy for repeated
    vis↔gains joins on the same key): bucketBy on the join key at write
    time removes the shuffle from every subsequent join. Asserts the
    bucketed plan has no Exchange on either side of the SortMergeJoin."""
    import uuid

    from codex_africanus_spark.sources import tpch_ms

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        db_table = f"vis_bucketed_{uuid.uuid4().hex[:8]}"
        vis = tpch_ms.vis_table(spark, sf_dir)
        (
            vis.write.bucketBy(8, "antenna1", "antenna2")
            .sortBy("antenna1", "antenna2")
            .mode("overwrite")
            .saveAsTable(db_table)
        )
        a = spark.table(db_table).groupBy("antenna1", "antenna2").count()
        b = spark.table(db_table).select("antenna1", "antenna2", "vis_re")
        j = b.join(a, ["antenna1", "antenna2"])
        plan = plan_of(j)
        # r13: preferSortMergeJoin=false — SMJ or SHJ, both bucket-aligned
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # neither join input is re-shuffled: bucketing provides the
        # partitioning, so at most the aggregate's own partials appear
        assert plan.count("Exchange hashpartitioning") == 0
        spark.sql(f"DROP TABLE {db_table}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_dde_corrupt_gains_joins_broadcast_single_collapse(spark, sf_dir):
    """compute_and_corrupt (r14 folded shape): both grouped-gains legs
    must be broadcast hash joins, the ONLY fact-table hash exchange is
    the duplicate-key collapse, and the per-direction fold must be
    unrolled codegen expressions — no lambda HOF on the fact side (the
    `aggregate()` variant is CodegenFallback and measured 114 s vs 17 s
    at sf10). Dimension-grain exchanges: one (chan, frequency) distinct
    per broadcast leg (O(#chans) rows after partial agg, never
    fact-scale)."""
    plan = plan_of(registry()["compute_and_corrupt_vis_dde"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    hash_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert hash_ex <= 3, f"expected at most three hash exchanges, plan has {hash_ex}"
    # the pow() hoist: POWER must sit under a BroadcastExchange (the
    # src×chan side), not in the fact-side projection
    fact_side = plan.split("BroadcastExchange")[0]
    assert "POWER" not in fact_side, "pow() leaked back to the per-pair side"
    # the fold stays codegen: no higher-order aggregate on the fact side
    assert "lambdafunction" not in fact_side.lower(), (
        "per-row HOF lambda leaked into the fact-side projection"
    )


def test_fft_residual_model_join_broadcast(spark, sf_dir):
    """dirty2ms degrid: the model uv-sample table joins broadcast; the
    residual accumulation is one partial+final hash aggregate."""
    plan = plan_of(registry()["fft_residual_grid"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2 and "partial_sum" in plan


def test_kll_sketch_single_bucket_shuffle(spark, sf_dir):
    """Grid quantile sketch: one hash exchange for the bucket aggregate;
    the estimate window runs over the tiny sketch, not the fact table."""
    plan = plan_of(registry()["kll_grid_quantiles_price"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2 and "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_phase_screen_is_pure_projection(spark, sf_dir):
    """The GP screen corruption must stay a scan + project (plus the
    output sort) — no joins, no aggregates on the hot path."""
    plan = plan_of(registry()["gp_phase_screen_corrupt"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    # the screen folded to literal inducing offsets (constant folding):
    # 2·ℓ² became the single /0.5 divisor in the projected expression
    assert "/ 0.5)" in plan


def test_q19_part_predicates_pushed(spark, sf_dir):
    """The part-only disjunct (brand OR-set) must reach the part scan;
    the part side must broadcast."""
    plan = plan_of(registry()["q19_disjunctive_pushdown"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Brand#" in plan  # brand disjunction evaluated pre-agg
    assert "SortMergeJoin" not in plan


def test_degrid_policy_adds_no_shuffle_over_degrid(spark, sf_dir):
    """The phase-rotate policy must not add an Exchange beyond the plain
    nearest-cell degrid (constant-folded Δlmn rides the same broadcast
    join)."""
    base = plan_of(registry()["degrid_nearest_cell"].fn(spark, sf_dir))
    pol = plan_of(registry()["degrid_policy_phase_rotate"].fn(spark, sf_dir))
    assert pol.count("Exchange") <= base.count("Exchange")
    assert "BroadcastHashJoin" in pol


def test_parallactic_angles_broadcasts_antennas(spark, sf_dir):
    """PA grid = distinct-times × broadcast antenna table: exactly one
    aggregate exchange (the distinct), no sort-merge join."""
    plan = plan_of(registry()["parallactic_angles_geometric"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q17_avg_subquery_is_broadcast_join(spark, sf_dir):
    """The correlated-avg rewrite must broadcast the per-part aggregate,
    not shuffle the fact table against it."""
    plan = plan_of(registry()["q17_small_quantity_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_sliding_window_single_agg_shuffle(spark, sf_dir):
    """window() expansion happens before ONE partial+final aggregate."""
    plan = plan_of(registry()["events_sliding_window"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_minhash_signatures_zero_shuffle_projection(spark, sf_dir):
    """MinHash signatures must be a pure projection over the scan — any
    Generate (explode) or aggregation exchange here multiplies the
    fact-table volume before the LSH join."""
    from codex_africanus_spark.operators import dedup as dedup_op

    plan = plan_of(dedup_op.minhash_signatures(load(spark, "documents", sf_dir)))
    assert "Generate" not in plan           # no shingle explode
    assert "HashAggregate" not in plan      # no per-doc groupBy
    # the only exchange allowed is fan_out's testdata-only round-robin
    assert plan.count("Exchange") <= 1


def test_minhash_lsh_scans_docs_at_most_twice(spark, sf_dir):
    """The banded frame is one posexplode over band keys; the old 4-band
    union × 2 join sides re-ran the signature pipeline 8×."""
    plan = plan_of(registry()["minhash_lsh_near_dup_pairs"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 2  # one per self-join side
    assert "Union" not in plan


def test_chunk_dedup_shuffles_by_digest_then_doc(spark, sf_dir):
    """Chunk dedup = window over chunk digest + reassembly groupBy —
    no cartesian, no broadcast of the fact side."""
    plan = plan_of(registry()["chunk_dedup_corpus"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_eval_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must broadcast — a shuffle join here would
    move the whole corpus shingle frame for a tiny eval set."""
    plan = plan_of(registry()["eval_decontamination"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_asof_join_is_single_window_pass(spark, sf_dir):
    """The events as-of join must be one window over user_id — not a
    self-join (range/band joins explode at scale)."""
    plan = plan_of(registry()["events_asof_prior_join"].fn(spark, sf_dir))
    assert "windowspecdefinition(user_id" in plan
    assert "Join" not in plan  # no join of any kind — single window pass


def test_sequence_packing_prefix_sum_is_bucket_parallel(spark, sf_dir):
    """The doc-level cumsum window must partition by bucket (parallel);
    only the bucket-totals frame (corpus/64 rows) may use the
    single-partition global window."""
    plan = plan_of(registry()["sequence_packing"].fn(spark, sf_dir))
    # the doc-level window spec must carry bucket as its PARTITION key —
    # physical plans spell it windowspecdefinition(bucket#N, doc_id#M ASC
    assert re.search(r"windowspecdefinition\(bucket#\d+L?, doc_id#\d+L? ASC", plan), plan
    assert plan.count("Window") >= 2  # local cumsum + bucket prefix
    assert "BroadcastHashJoin" in plan  # bucket offsets broadcast back


def test_sessionizers_use_stream_not_per_group_pandas(spark, sf_dir):
    """Round-4 fix lock: both pandas-tier sessionizers must plan
    MapInPandas (sorted-stream, cross-batch carry), NOT
    FlatMapGroupsInPandas — per-group pandas with many tiny groups cost
    216 s at sf0.1 before the rewrite."""
    from codex_africanus_spark.operators import bda as bda_op
    from codex_africanus_spark.operators import skew as skew_op
    from codex_africanus_spark.sources.tpch_ms import events_table

    ev = events_table(spark, sf_dir)
    for df in (bda_op.sessionize(ev), skew_op.salted_sessionize(ev)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, plan
        assert "FlatMapGroupsInPandas" not in plan, plan


def test_cell_assignment_is_hash_agg_not_window(spark, sf_dir):
    """Round-4 fix lock: the IVF/SemDeDup nearest-cell assignment must be
    a hash aggregate (min over the (dist, cid) struct), not an
    N-cardinality sort window."""
    from codex_africanus_spark.operators import similarity as sim
    from codex_africanus_spark.sources.tables import load

    emb = load(spark, "embeddings", sf_dir)
    plan = sim.semantic_dedup(emb)._jdf.queryExecution().executedPlan().toString()
    # windows remain only in tiny probe/topk stages of OTHER queries;
    # semantic_dedup's plan must have none at vector cardinality
    assert "Window" not in plan, plan


def test_simhash_banding_single_pipeline(spark, sf_dir):
    """Round-4 fix lock: simhash banding explodes the persisted
    fingerprint table — the plan must contain NO union of per-band
    branches (which re-ran the fingerprint pipeline per band)."""
    from codex_africanus_spark.operators import dedup as dd
    from codex_africanus_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir)
    plan = dd.simhash_near_dup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, plan


def test_bigram_surprisal_broadcasts_context_table(spark, sf_dir):
    """The unigram context table and the V scalar must broadcast; the
    only sort-merge-eligible join is the bigram-count join (AQE's call
    at real scale)."""
    plan = plan_of(registry()["bigram_surprisal_quality"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row V cross join


def test_bpe_topn_is_take_ordered_not_global_sort(spark, sf_dir):
    """Top-N merge candidates must plan TakeOrdered (per-partition heap),
    never a corpus-wide Sort before the limit."""
    plan = plan_of(registry()["bpe_pair_merge_counts"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_bloom_signatures_are_single_partial_agg(spark, sf_dir):
    """Bloom register build must be partial+final bit_or aggregation (the
    HLL-register shape); the pairwise stage joins broadcast-sized
    signature frames."""
    plan = plan_of(registry()["bloom_source_overlap"].fn(spark, sf_dir))
    assert "partial_" in plan and "bit_or" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_is_broadcast_argmin_not_window(spark, sf_dir):
    """Each Lloyd round must assign via broadcast-NLJ + hash-agg
    min-struct — no vector-cardinality sort window, no SMJ."""
    from codex_africanus_spark.operators import similarity as sim

    emb = load(spark, "embeddings", sf_dir)
    plan = plan_of(sim.kmeans_lloyd_stats(emb, iters=1))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_weighted_sample_is_shuffle_free_takeordered(spark, sf_dir):
    """A-ES sampling must plan as projection + TakeOrdered — zero
    exchanges (the per-partition-heap property that makes it mergeable
    across shards)."""
    plan = plan_of(registry()["weighted_sample_documents"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_pagerank_loop_reuses_materialized_edges(spark, sf_dir):
    """The LSH pipeline must appear ONCE (checkpointed edge list), not
    once per propagation round — re-embedding it audited at 25
    exchanges / 28 scans before the cut."""
    plan = plan_of(registry()["pagerank_lsh_graph"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 4
    assert plan.count("Exchange") <= 12


def test_rephase_is_pure_projection(spark, sf_dir):
    """Phase-centre rotation must be a scan + projection: no exchange."""
    plan = plan_of(registry()["rephase_visibilities"].fn(spark, sf_dir))
    # the orderBy adds a range exchange for output sorting only; there
    # must be NO hashpartitioning (no join/agg shuffle)
    assert "Exchange hashpartitioning" not in plan


def test_closure_phases_no_cartesian_single_collapse(spark, sf_dir):
    """Closure phases: one baseline-collapse shuffle, equi-joins only."""
    from codex_africanus_spark.operators import calibration as cal_op

    vis = tpch_ms.vis_table(spark, sf_dir)
    plan = plan_of(cal_op.closure_phases(vis))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_sliding_chunks_zero_shuffle(spark, sf_dir):
    from codex_africanus_spark.operators import curation as cur_op

    docs = load(spark, "documents", sf_dir)
    plan = plan_of(cur_op.sliding_window_chunks(docs))
    assert "Exchange hashpartitioning" not in plan


def test_uvlin_single_fact_shuffle_broadcast_joinback(spark, sf_dir):
    """UVLIN: ONE fact shuffle to (bin, baseline) keys; the per-channel
    fit table joins back as a broadcast (diagnostic cardinality), never
    a second fact-side exchange."""
    # an earlier run of this query (oracle parity) leaves its persisted
    # fit frame in the CacheManager; the identical logical plan would
    # then render as InMemoryTableScan and hide the joins under audit
    spark.catalog.clearCache()
    plan = plan_of(registry()["uvlin_continuum_subtract"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_delay_fit_is_two_agg_chain_no_join(spark, sf_dir):
    """Delay/phase-slope fit: bin stats then per-baseline regression —
    two aggregate exchanges, zero joins of any kind."""
    plan = plan_of(registry()["fit_delay_phase_slope"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan, j


def test_cms_heavy_hitters_no_smj_no_cartesian(spark, sf_dir):
    """CMS heavy hitters composes build + probe + exact verification:
    everything after the first cell aggregate runs at sketch/hitter
    cardinality — broadcast joins only, no fact-fact SMJ."""
    plan = plan_of(registry()["cms_heavy_hitter_users"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_beam_sweep_single_grid_aggregate(spark, sf_dir):
    """Restore-beam sweep: ONE distributed grid aggregate; the sweep
    over beam widths is driver minor-cycle reuse, not extra scans."""
    plan = plan_of(registry()["clean_restore_beam_sweep"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Scan parquet") <= 1


def test_persisted_ann_probes_bounded_exchanges(spark, sf_dir):
    """Both persisted-ANN probe plans: ≤3 hash exchanges, broadcast
    joins only (the assignment/codes fact tables are never shuffled),
    and the IVF warm probe reads NO raw-corpus parquet at all."""
    ivf = plan_of(registry()["ann_ivf_persisted_topk"].fn(spark, sf_dir))
    pq = plan_of(registry()["ann_pq_persisted_topk"].fn(spark, sf_dir))
    for plan in (ivf, pq):
        assert plan.count("Exchange hashpartitioning") <= 3
        assert "SortMergeJoin" not in plan
    assert "embeddings.parquet" not in ivf


def test_gains_interp_all_joins_broadcast_no_fact_shuffle(spark, sf_dir):
    """applycal-style interpolation: the vis fact table must reach the
    output through broadcast joins only — zero fact-side hash
    exchanges."""
    plan = plan_of(registry()["gains_time_linear_interp"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_fringe_fit_single_baseline_aggregate(spark, sf_dir):
    """2D fringe fit: one baseline-keyed aggregate exchange; the min-bin
    centring enters as a broadcast, never a join shuffle."""
    plan = plan_of(registry()["fringe_fit_delay_rate"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "SortMergeJoin" not in plan


def test_flag_waterfall_single_aggregate(spark, sf_dir):
    plan = plan_of(registry()["flag_occupancy_waterfall"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Scan parquet") <= 1


def test_contamination_span_no_cartesian_eval_broadcast(spark, sf_dir):
    """The positional-overlap join must be an h-equi join — never a
    cartesian / nested-loop. The eval side is a 1/EVAL_MODULUS corpus
    slice (corpus-proportional), so no broadcast HINT is allowed: AQE
    may still pick broadcast at tiny SF, but the plan must not carry a
    mandatory eval-side BroadcastExchange from a hint (r7 advice)."""
    plan = plan_of(registry()["contamination_span_report"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_bucket_tables_broadcast(spark, sf_dir):
    """DSIR: the B-bucket model tables and scalar totals must all enter
    as broadcasts — the per-doc side never shuffles for the lookups."""
    plan = plan_of(registry()["dsir_importance_weights"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 3


def test_beam_stokes_predict_single_fact_exchange(spark, sf_dir):
    """Beam+stokes DDE predict: the fact table reaches the reduction
    through a broadcast chan-join (beam/brightness side is tiny); the
    ONLY hash exchange is the final source-reduction aggregate."""
    plan = plan_of(registry()["beam_stokes_dde_predict"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_bm25_broadcast_df_no_smj(spark, sf_dir):
    """BM25: df and corpus scalars enter as broadcasts; top-k is
    TakeOrdered (no global window over the scored frame)."""
    plan = plan_of(registry()["bm25_keyword_topk"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan


def test_pmi_no_cartesian_takeordered(spark, sf_dir):
    """PMI: vocab-cardinality marginal joins may be hash OR broadcast
    (AQE's call) but never cartesian; top-k via TakeOrdered."""
    plan = plan_of(registry()["pmi_collocations_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan


def test_prefix_join_reuses_persisted_shingles_no_cartesian(spark, sf_dir):
    """Prefix-filter jaccard join: the distinct shingle frame must come
    from the materialized checkpoint for every consumer (no re-explode
    of the corpus — localCheckpoint since the r8 cache-leak sweep, so
    the reuse node is Scan ExistingRDD), and every join is an
    equi-join."""
    plan = plan_of(registry()["prefix_filter_jaccard_join"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 3
    assert "SortMergeJoin" not in plan


def test_radio_reports_single_scan_bounded_exchanges(spark, sf_dir):
    """uv profile / redundant cells / observation segments / elevation:
    one parquet scan, at most two hash exchanges (distinct or bin agg +
    final agg) — pure partial-agg diagnostic shapes."""
    for name in (
        "uvdist_radial_profile",
        "redundant_baseline_average",
        "baseline_observation_segments",
        "antenna_elevation_flags",
        "dedup_storage_savings",
        "lsh_band_bucket_stats",
        "char_trigram_entropy",
    ):
        plan = plan_of(registry()[name].fn(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") <= 2, name
        assert plan.count("Scan parquet") <= 1, name
        assert "SortMergeJoin" not in plan, name


def test_briggs_sweep_single_fact_pass(spark, sf_dir):
    """Robust sweep: three settings share ONE gated scan + cell table —
    the fact side is scanned once and joined broadcast."""
    plan = plan_of(registry()["briggs_robust_sweep"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the checkpointed cell table feeds both totals and the join-back
    # (localCheckpoint since the r8 cache-leak sweep: the parquet scan
    # ran once at materialization; consumers read Scan ExistingRDD)
    assert plan.count("Scan ExistingRDD") >= 2


def test_smearing_and_segments_collapse_before_window(spark, sf_dir):
    """Sequential diagnostics must window the COLLAPSED frame: exactly
    one fact-cardinality aggregate exchange feeding the window."""
    for name in ("bda_smearing_report", "baseline_observation_segments"):
        plan = plan_of(registry()[name].fn(spark, sf_dir))
        assert plan.count("Scan parquet") <= 1, name
        assert "Window" in plan, name


def test_beam_pointing_udf_on_tiny_side_only(spark, sf_dir):
    """The pandas-UDF beam sample runs on the (src × ant × chan) cross
    join — no parquet fact scan besides the 25-row catalogue."""
    plan = plan_of(registry()["beam_pointing_error_sampling"].fn(spark, sf_dir))
    assert "lineitem" not in plan
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def test_pca_moment_aggregate_is_partial_final(spark, sf_dir):
    """The d² moment matrix must reduce map-side: partial+final hash
    aggregate over the outer-product explode, one hash exchange."""
    from codex_africanus_spark.operators import similarity as sim_op
    from codex_africanus_spark.sources.tables import load as _load

    emb = _load(spark, "embeddings", sf_dir)
    # audit the distributed stage (the driver loop consumes its collect)
    from codex_africanus_spark.sources.tables import fan_out
    from codex_africanus_spark.functions.deterministic import qsum

    e = fan_out(emb)
    xi = e.select("embedding", F.posexplode("embedding").alias("i", "xi"))
    prods = xi.select(
        "i",
        F.posexplode(
            F.expr("transform(embedding, y -> CAST(xi AS DOUBLE) * CAST(y AS DOUBLE))")
        ).alias("j", "p"),
    )
    A = prods.groupBy("i", "j").agg(qsum(F.col("p"), 1e6).alias("sq"))
    plan = plan_of(A)
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_calibration_and_correlation_plan_shapes(spark, sf_dir):
    """Calibration: equi-joins only, checkpointed shingle frame reused
    (Scan ExistingRDD since the r8 cache-leak sweep); correlation: one
    scan, one source-cardinality aggregate exchange."""
    plan = plan_of(registry()["minhash_calibration_curve"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Scan ExistingRDD") >= 3
    plan = plan_of(registry()["length_quality_correlation"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan


def test_beam_dde_full_predict_single_exchange_three_broadcasts(spark, sf_dir):
    """Per-antenna beam DDE predict (r12 shape): both beam ends AND the
    brightness fold into ONE pre-joined (ant1, ant2, chan) broadcast
    pair table driver-side, so the fact expansion pays a single
    broadcast probe per coherency (the pre-r12 b1/b2/src three-probe
    chain ran 5x slower than the predict class at sf1/sf10); the single
    hash exchange is the source reduction. The >= 3 BroadcastHashJoins
    are the pair-table BUILD joins (1225-row grain) plus the one fact
    probe — all broadcast, never SMJ."""
    plan = plan_of(registry()["beam_dde_full_predict"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_custom_term_inherits_compiled_plan_shape(spark, sf_dir):
    """A user-substituted Term must get the same compiled plan the
    built-ins do: broadcast source expansion + broadcast model-flux dim,
    no fact-fact SMJ, partial+final source reduction."""
    plan = plan_of(registry()["rime_custom_term_predict"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the model-flux dim lookup
    assert plan.count("HashAggregate") >= 2


def test_incremental_dedup_probe_no_fact_smj(spark, sf_dir):
    """The ingest probe: candidate/verify/report joins all broadcast the
    batch-derived side — the committed index tables are scanned but
    never shuffled through a fact-fact SortMergeJoin."""
    plan = plan_of(registry()["incremental_dedup_ingest"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_combined_probe_shape(spark, sf_dir):
    """IVFPQ serving: centroids broadcast (coarse), probe-cell and
    distance-table sides broadcast (ADC) — no SMJ anywhere; the only
    corpus-sized frames (assignment, codes) enter joins unbroadcast but
    never as the build side."""
    plan = plan_of(registry()["ann_ivf_pq_persisted_topk"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_scan_average_no_cartesian_no_hinted_broadcast(spark, sf_dir):
    """The scan-id table is epoch-proportional, so it must carry NO
    broadcast hint (AQE may still broadcast at tiny SF); the join must
    be a full-key equi-join, never a cartesian/nested-loop."""
    plan = plan_of(registry()["scan_time_average"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_airmass_factors_broadcast(spark, sf_dir):
    plan = plan_of(registry()["airmass_opacity_correction"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_leakage_apply_pure_projection(spark, sf_dir):
    """The D-term sandwich must stay a scan + project — no joins, no
    aggregates on the hot path."""
    plan = plan_of(registry()["polarization_leakage_apply"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_fringe_stop_fit_joins_broadcast(spark, sf_dir):
    plan = plan_of(registry()["fringe_stop_apply"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_cube_single_expand_single_shuffle(spark, sf_dir):
    """r11 grouping-lattice family: every level comes from ONE Expand +
    partial/final hash agg over ONE shuffle — never a per-level rescan,
    never a join. The Expand multiplies rows map-side, so the exchange
    carries (levels x group cardinality), not levels x fact."""
    for name in (
        "lineitem_rollup_pricing",
        "ms_flag_cube_summary",
        "events_grouping_sets_profile",
        "corpus_rollup_source_lang",
    ):
        plan = plan_of(registry()[name].fn(spark, sf_dir))
        assert plan.count("Expand") == 1, name
        assert plan.count("HashAggregate") >= 2, name
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "Join" not in plan, name
        assert plan.count("Exchange hashpartitioning") == 1, name


def test_phase_unwrap_single_baseline_shuffle(spark, sf_dir):
    """r11: lag window, running corrector, last-row marker and the
    final collapse must all reuse ONE baseline-key exchange; the only
    other exchange is the diagnostic ORDER BY (28 rows, range)."""
    plan = plan_of(registry()["phase_unwrap_per_baseline"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("Window") >= 2


def test_rolling_flag_rate_single_shuffle_range_frame(spark, sf_dir):
    """r11: the trailing-window monitor runs the RANGE frame and the
    peak window on one baseline-key exchange; no join."""
    plan = plan_of(registry()["baseline_rolling_flag_rate"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "RANGE BETWEEN" in plan or "specifiedwindowframe" in plan.lower() or plan.count("Window") >= 2


def test_aqe_skew_join_splits_bot_user_partition(spark, sf_dir):
    """r11 skew demonstration: with the split thresholds lowered to
    local-scale sizes (at 100 TB the DEFAULTS — 256 MB partitions —
    play this role) and broadcast disabled (at 100 TB a user-grain
    profile side disables itself), AQE must mark the bot-user join
    skewed and split it: `skew=true` on the SMJ, a `skewed` shuffle
    read, and the result must be byte-identical to the unsplit run.
    Empirical contract notes live in queries/events.py (the rule only
    matches bare ENSURE_REQUIREMENTS shuffles on both sides; distinct
    aggs above the join disqualify; splits happen on mapper
    boundaries, so single-mapper scans can never split — fan_out)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = registry()["aqe_skew_bot_user_join"].fn(spark, sf_dir)
        split_rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # the AQEShuffleRead marker
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = registry()["aqe_skew_bot_user_join"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, split_rows)) == sorted(map(tuple, plain))


def test_corr_unpivot_single_expand_no_join(spark, sf_dir):
    """r11: native unpivot must be ONE Expand (map-side fan-out) +
    partial/final agg over one shuffle — not four scans unioned."""
    plan = plan_of(registry()["ms_corr_unpivot_long"].fn(spark, sf_dir))
    assert plan.count("Expand") == 1
    assert "Union" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_phase_unwrap_salted_single_fact_shuffle(spark, sf_dir):
    """r11: the bucket decomposition must touch the FACT table with
    exactly one exchange on the salted (baseline, bucket) key; the
    stitch windows run on the bucket-summary frame (O(baselines x
    buckets) rows). No pandas, no join."""
    plan = plan_of(registry()["phase_unwrap_salted"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "InPandas" not in plan and "ArrowEval" not in plan
    # fact shuffle (a1,a2,bucket) + summary shuffle (a1,a2) only
    assert plan.count("Exchange hashpartitioning") == 2


# ------------------------------------------------------------- r12 shapes


def test_r12_native_session_window_merging_sessions(spark, sf_dir):
    """events_native_session_window: the NATIVE session aggregate plan —
    MergingSessions with map-side partial session merge before the
    user_id exchange (the bounded-state shape), never a join or
    cartesian."""
    plan = plan_of(registry()["events_native_session_window"].fn(spark, sf_dir))
    assert "MergingSessions" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_r12_pit_feature_join_is_one_window_pass(spark, sf_dir):
    """events_pit_feature_join: the scalable PIT form is ONE per-user
    window pass — no label×history join, exactly one exchange."""
    plan = plan_of(registry()["events_pit_feature_join"].fn(spark, sf_dir))
    assert "Join" not in plan.replace("LateralJoin", "")  # no join at all
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_r12_variant_stats_scan_side_parse(spark, sf_dir):
    """events_variant_props_stats: parse_json/variant_get stay in the
    scan-side codegen stage (no Python, one exchange — the payload
    never shuffles)."""
    plan = plan_of(registry()["events_variant_props_stats"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_r12_recursive_chain_union_loop(spark, sf_dir):
    """supplier_escalation_chain: Spark 4's recursive CTE plans as a
    depth-bounded UnionLoop over the parent-key equi-join — never a
    cartesian; joins stay at dimension grain."""
    plan = plan_of(registry()["supplier_escalation_chain"].fn(spark, sf_dir))
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan


def test_r12_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """brand_topk_lateral: the correlated LATERAL (ORDER BY + LIMIT)
    must decorrelate into the windowed top-k — one scan of part, no
    per-brand rescan, no cartesian."""
    plan = plan_of(registry()["brand_topk_lateral"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert plan.count("Scan parquet") <= 2  # brands dim + one part scan


def test_r12_cdc_dim_state_join_broadcast_only(spark, sf_dir):
    """events_cdc_dim_state_join: every dim-state and increment join is
    broadcast (the stream-static shape); the fact side never SMJs."""
    plan = plan_of(registry()["events_cdc_dim_state_join"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_r12_zorder_pruned_asof_compose(spark, sf_dir):
    """snapshot_zorder_pruned_asof: stats-pruned snapshot scan + the
    asof interval machinery — the only nested-loop is the documented
    1-row bounds broadcast; no cartesian, no SMJ."""
    plan = plan_of(registry()["snapshot_zorder_pruned_asof"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_r12_corr_pivot_single_expand_no_distinct_pass(spark, sf_dir):
    """ms_corr_pivot_wide: explicit pivot values ⇒ no distinct planning
    scan; the long layout is ONE Expand and the pivot lowers to
    conditional aggregates — at most 2 fact scans (pivot + count), no
    SMJ at this dim-grain join."""
    plan = plan_of(registry()["ms_corr_pivot_wide"].fn(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- r13 shapes


def test_r13_watermark_late_drop_shape(spark, sf_dir):
    """events_watermark_late_drop: the running-max watermark window runs
    over the BATCH-grain frame (hours, not events — one unpartitioned
    window over a bounded axis), the event-grain side never SMJs more
    than the one wm attach, and no cartesian/Python anywhere."""
    plan = plan_of(registry()["events_watermark_late_drop"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    # batch max (partial+final), wm attach join, final hour agg — the
    # event grain is exchanged at most twice (join key + final group)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_r13_branch_dim_serving_join_broadcast_only(spark, sf_dir):
    """events_branch_dim_serving_join: both snapshot dim reads broadcast
    (the stream-static serving shape); the event scan is never
    sort-merge-joined or re-shuffled per dim."""
    plan = plan_of(
        registry()["events_branch_dim_serving_join"].fn(spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_r13_escalation_rollup_union_loop_feeds_expand(spark, sf_dir):
    """escalation_rollup_lattice: UnionLoop recursion composed with the
    grouping-lattice Expand in ONE plan — depth-bounded, no cartesian."""
    plan = plan_of(registry()["escalation_rollup_lattice"].fn(spark, sf_dir))
    assert "UnionLoop" in plan
    assert "Expand" in plan
    assert "CartesianProduct" not in plan


def test_r13_nullsafe_join_is_broadcast_not_smj(spark, sf_dir):
    """supplier_nullsafe_nation_join: the null-safe predicate must not
    degrade the dim join below a broadcast hash join; no cartesian."""
    plan = plan_of(
        registry()["supplier_nullsafe_nation_join"].fn(spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_r13_gap_fill_stats_grid_free(spark, sf_dir):
    """events_hourly_gap_fill: the gap statistics are read off the sparse
    (event_type, hour) counts by one per-type aggregate — no generated
    grid, no join, no cartesian — and the event scan is aggregated to
    (event_type, hour) BEFORE the per-type aggregate, so nothing
    event-grain reaches it."""
    plan = plan_of(registry()["events_hourly_gap_fill"].fn(spark, sf_dir))
    assert "Generate" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # the executed plan prints consumers above their inputs
    per_type = re.search(r"HashAggregate\(keys=\[event_type#\d+\]", plan)
    hourly = re.search(r"HashAggregate\(keys=\[event_type#\d+, h#", plan)
    assert per_type and hourly
    assert per_type.start() < hourly.start() < plan.index("FileScan")


def test_r13_watermark_window_drop_shape(spark, sf_dir):
    """events_watermark_window_drop: same bounded-axis discipline as
    the late-drop replay — the lagged-watermark window runs over the
    BATCH-grain frame, the final-watermark scalar arrives as ONE
    broadcast (never a shuffle of the event grain against a 1-row
    frame), and the event grain is exchanged at most twice (wm-attach
    join key + final hour agg)."""
    plan = plan_of(registry()["events_watermark_window_drop"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row final_wm attach
    assert plan.count("Exchange hashpartitioning") <= 3


def test_r13_uv_radius_join_grid_not_cartesian(spark, sf_dir):
    """uv_radius_neighbor_pairs: the radius join must run as literal
    Generates (3x3 offsets) + an equi hash join on cell keys — NEVER a
    cartesian/NLJ pair space; the distance filter stays codegen."""
    plan = plan_of(registry()["uv_radius_neighbor_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate explode") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r13_triangle_census_edge_grain_joins(spark, sf_dir):
    """near_dup_triangle_census: wedge + closure run at EDGE grain
    (equi joins on node keys) — no cartesian, no Python, and the corpus
    scan feeds only the shared candidate kernel."""
    plan = plan_of(registry()["near_dup_triangle_census"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r13_scd2_single_user_partitioning(spark, sf_dir):
    """user_status_scd2_history: every window and rollup is user-keyed
    — the plan may exchange on (user_id[, day/version]) but never at
    raw event grain more than the first daily collapse; no cartesian."""
    plan = plan_of(registry()["user_status_scd2_history"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 3  # change-lag, version-sum, range-lead
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r13_interp_resample_grid_grain(spark, sf_dir):
    """events_hourly_interp_resample: same discipline as the gap-fill —
    the event grain collapses FIRST, one data-dependent Generate at
    type grain, IGNORE-NULLS context windows over the grid frame only."""
    plan = plan_of(registry()["events_hourly_interp_resample"].fn(spark, sf_dir))
    assert plan.count("Generate explode") == 1
    assert "CartesianProduct" not in plan
    assert "last" in plan and "first" in plan  # the neighbor windows


def test_r13_dv_mor_read_is_broadcast_anti_join(spark, sf_dir):
    """snapshot_dv_merge_on_read: the DV application must plan as a
    BROADCAST left-anti join on (file key, position) — the DV set is
    tombstone-sized, never a shuffle of the data grain — with zero
    cartesian and the _metadata pseudo-columns resolved scan-side."""
    plan = plan_of(registry()["snapshot_dv_merge_on_read"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftAnti, BuildRight" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r13_ivf_arrow_assignment_plan_is_map_only(spark, sf_dir, monkeypatch):
    """ann_ivf_topk past the Arrow gate: the assignment stage must be a
    MAP-ONLY Arrow pass — no n x cells pair materialization through a
    min-struct aggregate (the 217 s sf10 shape), no codegen distance
    argmin, and downstream still zero cartesian. The probe/rerank's own
    exchanges (cell window + top-k window + candidate join) are the
    only shuffles left."""
    from codex_africanus_spark.operators import similarity as sim
    from codex_africanus_spark.sources.tables import load

    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_PAIRS", 1)
    # the assignment frame itself (pre-localCheckpoint — the checkpoint
    # that ivf_topk pins it behind hides the build plan)
    _, assign = sim._ivf_build(load(spark, "embeddings", sf_dir))
    plan = plan_of(assign)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    # the relational path's signature: a partial_min(struct(dist, cid))
    # aggregate over the pair expansion — absent on the Arrow path
    assert "partial_min" not in plan
    assert "Exchange hashpartitioning" not in plan  # map-only: no shuffle

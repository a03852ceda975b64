"""Round-12 fixes.

1. prefix_filter_jaccard_join rebuild (the r11 verdict's one red): the
   broadcast/group-collapse path and the shuffle-grain path past the
   broadcast gate must be result-identical, and the group collapse must stay exact on a
   duplication-dense corpus (the sf10 failure regime: many near-identical
   copies of each base doc) — checked against the all-pairs brute force.
2. r11 ADVICE closures: bda_partial_oracle raises (not assert) on a
   non-unique slice literal; the integer-grid cosine rank tier.
"""

import os

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.sources.tables import load


def _brute_force(docs):
    """All-pairs exact jaccard >= 1/2 ground truth (no prefix filter)."""
    sh = dedup_op._shingle_frame(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    return {
        (r.doc_a, r.doc_b): r.inter
        for r in (
            sh.alias("a")
            .join(
                sh.alias("b"),
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("inter"))
            .join(sizes.select(F.col("doc_id").alias("doc_a"),
                               F.col("s").alias("sa")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"),
                               F.col("s").alias("sb")), "doc_b")
            .filter(F.col("inter") * 3 >= F.col("sa") + F.col("sb"))
            .collect()
        )
    }


def test_prefix_broadcast_and_fallback_paths_identical(spark, sf_dir):
    """The r12 broadcast/group-collapse path and the shuffle-grain
    fallback past the gate (forced via broadcast_max_bytes=0) must emit
    byte-identical results on the real corpus."""
    docs = load(spark, "documents", sf_dir)
    new = [
        tuple(r)
        for r in dedup_op.prefix_filter_jaccard_join(docs)
        .orderBy("doc_a", "doc_b")
        .collect()
    ]
    old = [
        tuple(r)
        for r in dedup_op.prefix_filter_jaccard_join(docs, broadcast_max_bytes=0)
        .orderBy("doc_a", "doc_b")
        .collect()
    ]
    assert new == old
    assert len(new) > 0


def test_prefix_group_collapse_exact_on_duplication_dense_corpus(spark, sf_dir):
    """The sf10 failure regime in miniature: 12 perturbed copies of each
    base doc (copy k appends ' copyk' — the same perturbation the sf10
    generator uses, so cross-copy exact dups disappear but prefixes
    collapse). Group collapse must lose no pair and invent none vs the
    all-pairs brute force."""
    base = load(spark, "documents", sf_dir).limit(40)
    copies = spark.range(12).select(F.col("id").alias("k"))
    docs = (
        base.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * 100 + F.col("k")).alias("doc_id"),
            F.when(F.col("k") == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit(" copy"), F.col("k")))
            .alias("text"),
            "lang",
            "source",
            F.length(
                F.when(F.col("k") == 0, F.col("text"))
                .otherwise(F.concat("text", F.lit(" copy"), F.col("k")))
            ).alias("n_chars"),
        )
        .localCheckpoint(eager=True)
    )
    got = {
        (r.doc_a, r.doc_b): r.inter
        for r in dedup_op.prefix_filter_jaccard_join(docs).collect()
    }
    want = _brute_force(docs)
    assert got == want
    # the copies really are near-dups: every base doc contributes its
    # C(12,2) cross-copy pairs, so the pair space is duplication-quadratic
    assert len(got) >= 40 * (12 * 11) // 2


def test_prefix_within_group_pairs_still_verified(spark):
    """Identical prefixes do NOT imply jaccard >= 1/2: two docs sharing
    their rare-token prefix but with disjoint majority suffixes must be
    candidates (same group) yet fail the verify."""
    rare = "zqx1 zqx2 zqx3 zqx4"  # 2 shingles, globally unique -> prefix
    a = rare + " " + " ".join(f"aw{i}" for i in range(30))
    b = rare + " " + " ".join(f"bw{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a, "en", "s", len(a)), (2, b, "en", "s", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = dedup_op.prefix_filter_jaccard_join(docs).collect()
    assert out == []  # candidates generated, verify rejects
    want = _brute_force(docs)
    assert want == {}


def test_bda_partial_oracle_raises_on_bad_slice_literal():
    """r11 ADVICE: the single-occurrence guard must survive `python -O`
    — a missing or duplicated '% 17 = 0' literal raises ValueError
    instead of silently producing a no-op/partial rewrite."""
    from codex_africanus_spark.queries.msops import bda_partial_oracle

    ok = "SELECT * FROM t WHERE row_id % 17 = 0"
    assert "% 53 = 0" in bda_partial_oracle(ok, 53)
    with pytest.raises(ValueError):
        bda_partial_oracle("SELECT * FROM t", 53)  # absent
    with pytest.raises(ValueError):
        bda_partial_oracle(ok + " OR x % 17 = 0", 53)  # duplicated


def test_cosine_rank_grid_matches_round9_ranking(spark, sf_dir):
    """The integer-grid rank tier (rank_grid=1e9) must produce the same
    top-1 neighbor per query as the locked round(,9)-double tier on the
    real corpus, and sim_q must equal round(cosine_sim·1e9) there."""
    from codex_africanus_spark.operators import similarity as sim_op

    emb = load(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id") % 125 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    legacy = {
        r.query_id: (r.neighbor_id, round(r.cosine_sim * 1e9))
        for r in sim_op.cosine_topk_probes(
            emb, probes, k=1, exclude_self=True
        ).collect()
    }
    grid = {
        r.query_id: (r.neighbor_id, r.sim_q)
        for r in sim_op.cosine_topk_probes(
            emb, probes, k=1, exclude_self=True, rank_grid=1e9
        ).collect()
    }
    assert grid == legacy
    assert len(grid) > 0


# ------------------------------------------------- branch GC (r11 item 7)


def _snap_df(spark, tag, n=4):
    return spark.range(n).selectExpr("id", f"'{tag}' AS tag")


def test_vacuum_auto_pins_registered_branch(spark, tmp_path):
    """r11 verdict item 7: an O(1) branch reads manifests <= base from
    the SOURCE log, so a source vacuum that forgot extra_live_roots
    used to reclaim data dirs the branch still references. Branches are
    now registered at creation and auto-pinned: the forgetful vacuum
    must reclaim nothing the branch needs, and the branch's base read
    stays exact."""
    from codex_africanus_spark.sources import snapshot as snap

    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "a"), main, mode="overwrite")       # v1
    snap.create_branch(main, dev)                                   # base 1
    snap.commit(_snap_df(spark, "b", n=3), main, mode="overwrite")  # v2
    snap.commit(_snap_df(spark, "c", n=2), main, mode="overwrite")  # v3
    # the forgetful call: no extra_live_roots
    removed = snap.vacuum(main, retain_from_version=3)
    got = snap.read_snapshot(spark, dev)  # read-through to source v1
    assert got.count() == 4
    assert set(r.tag for r in got.select("tag").distinct().collect()) == {"a"}
    assert snap.registered_branches(main) == [os.path.abspath(dev)]
    # explicit extra_live_roots still composes (union)
    assert snap.vacuum(main, 3, extra_live_roots=(dev,)) == []
    del removed


def test_drop_branch_unregisters_and_vacuum_reclaims(spark, tmp_path):
    """After drop_branch the source vacuum may reclaim the base-only
    data dirs; the registry marker is gone."""
    from codex_africanus_spark.sources import snapshot as snap

    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "a"), main, mode="overwrite")       # v1
    snap.create_branch(main, dev)
    snap.commit(_snap_df(spark, "b", n=3), main, mode="overwrite")  # v2
    assert snap.vacuum(main, 2) == []  # branch pins v1's files
    snap.drop_branch(dev)
    assert snap.registered_branches(main) == []
    assert not os.path.exists(dev)
    removed = snap.vacuum(main, 2)
    assert len(removed) == 1  # v1's overwrite txn dir now reclaimable
    assert snap.read_snapshot(spark, main).count() == 3  # head intact


def test_stale_branch_registration_self_cleans(spark, tmp_path):
    """A branch dir removed without drop_branch (rmtree'd experiment)
    must not pin the source's history forever: the stale marker is
    dropped on the next registry walk and vacuum proceeds."""
    import shutil as _sh

    from codex_africanus_spark.sources import snapshot as snap

    main = str(tmp_path / "main")
    dev = str(tmp_path / "dev")
    snap.commit(_snap_df(spark, "a"), main, mode="overwrite")       # v1
    snap.create_branch(main, dev)
    snap.commit(_snap_df(spark, "b", n=3), main, mode="overwrite")  # v2
    _sh.rmtree(dev)  # vanished without drop_branch
    assert snap.registered_branches(main) == []  # marker self-cleans
    assert len(snap.vacuum(main, 2)) == 1


# ------------------------------------------- r12 new-query boundary locks


def test_session_window_gap_boundary_semantics(spark):
    """Spark's session_window compares next-start vs previous-end
    INCLUSIVELY: a gap of exactly the timeout still merges, so a new
    session starts iff diff > gap (strict) — the integer rule the
    DuckDB oracle replays. This boundary test is what caught the fork:
    the four-scale rehearsal had no exact-1800.000000 s gap to trip on.
    1800.000000 s stays one session; 1800.000001 s splits."""
    from pyspark.sql import functions as F

    gap_us = 1800 * 1000000
    rows = [
        (1, 0), (1, gap_us - 1),            # one session (diff < gap)
        (2, 0), (2, gap_us),                # ONE session (diff == gap)
        (3, 0), (3, gap_us + 1),            # two sessions (diff > gap)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long")
    got = {
        r.user_id: r.n
        for r in (
            df.select("user_id", F.timestamp_micros("ts_us").alias("ts"))
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .count()
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert got == {1: 1, 2: 1, 3: 2}
    # and the registered query's oracle rule (strict >) agrees
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"""SELECT user_id, COUNT(DISTINCT sid) FROM (
              SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id
                     ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
              FROM (SELECT * , CASE WHEN ts_us - lag(ts_us) OVER (
                      PARTITION BY user_id ORDER BY ts_us) > {gap_us}
                    THEN 1 ELSE 0 END AS new_s
                    FROM (VALUES (1,0),(1,{gap_us - 1}),(2,0),(2,{gap_us}),
                                 (3,0),(3,{gap_us + 1})) t(user_id, ts_us)))
            GROUP BY user_id ORDER BY user_id"""
    ).fetchall()
    assert dict(n) == got


def test_pit_join_strictly_prior_and_tie_break(spark, sf_dir):
    """events_pit_feature_join contract: features at the SAME ts_us as
    the label count only when their event_id is smaller (the total
    (ts_us, event_id) order), and the label's own row never feeds
    itself."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    rows = [
        # (event_id, ts_us, user, type, value)
        (1, 100, 7, "click", 1.0),
        (2, 200, 7, "purchase", 9.0),   # sees click@100
        (3, 200, 7, "click", 2.0),      # same ts as purchase, LARGER id
        (4, 300, 7, "purchase", 9.0),   # sees click@200 (id 3)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string, value double"
    )
    w = (
        W.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_c = F.when(F.col("event_type") == "click",
                     F.round(F.col("value") * 100).cast("long"))
    out = {
        r.event_id: r.last_click_c
        for r in ev.select(
            "event_id", "event_type",
            F.last(click_c, ignorenulls=True).over(w).alias("last_click_c"),
        ).filter(F.col("event_type") == "purchase").collect()
    }
    assert out == {2: 100, 4: 200}

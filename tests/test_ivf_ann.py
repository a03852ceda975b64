"""IVF ANN tier: recall floor, determinism, broadcast plan shape."""

from codex_africanus_spark.operators import similarity as sim
from codex_africanus_spark.sources.tables import load, source_fingerprint
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def test_ivf_recall_floor(spark, sf_dir):
    """2-of-8 probes on unclustered uniform vectors: recall@3 vs brute
    force must clear the probe share (empirically ~0.5 here)."""
    emb = load(spark, "embeddings", sf_dir)
    bf = {(r.query_id, r.neighbor_id) for r in sim.cosine_topk(emb, k=3).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in sim.ivf_topk(emb, k=3).collect()}
    assert len(ivf) == len(bf) > 0
    assert len(bf & ivf) / len(bf) >= 1 / 3


def test_recall_eval_queries_clear_fixed_floor(spark, sf_dir):
    """Both registered recall@3 queries (LSH and IVF tiers) must clear a
    fixed mean-recall floor — the accuracy-parametrized oracle style of
    the reference's wgridder tests (test_wgridder.py:49-108), applied to
    the ANN quality gates the driver checks.

    The testdata embeddings are uniform-random (no cluster structure —
    the ANN worst case) and the probe set is 4 vectors, so absolute
    recall is inherently low and noisy here; the floor's job is to catch
    a bucketing/candidate-join regression, which manifests as recall 0
    (no candidate ever shares the query's bucket) or an empty result."""
    from codex_africanus_spark.queries import registry

    r = registry()
    for name, floor in [("ann_lsh_recall_eval", 0.08), ("ann_ivf_recall_eval", 0.08)]:
        out = r[name].fn(spark, sf_dir).toPandas()
        assert len(out) > 0, name
        assert out.recall_at_k.between(0.0, 1.0).all(), name
        mean_recall = out.recall_at_k.mean()
        assert mean_recall >= floor, (name, mean_recall)


def test_ivf_partition_invariant(spark, sf_dir):
    """Fixed-point centroid sums ⇒ identical index and results under any
    input partitioning."""
    emb = load(spark, "embeddings", sf_dir)
    a = sorted(map(tuple, sim.ivf_topk(emb).collect()))
    b = sorted(map(tuple, sim.ivf_topk(emb.repartition(7)).collect()))
    assert a == b


def test_ivf_centroids_broadcast(spark, sf_dir):
    """The coarse quantizer must reach assignment as a broadcast — no
    shuffle of the big side against an 8-row table."""
    emb = load(spark, "embeddings", sf_dir)
    plan = sim.ivf_topk(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup semantics: canonical points down, keepers are mutually
    sub-threshold within a cell, and every drop has a kept justification."""
    from codex_africanus_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.semantic_dedup(emb).toPandas()
    assert (out.canonical_id <= out.vec_id).all()
    dups = out[out.is_dup == 1]
    assert len(dups) > 0, "threshold should bite on the test corpus"
    assert (dups.canonical_id < dups.vec_id).all()
    keep = out[out.is_dup == 0]
    assert (keep.canonical_id == keep.vec_id).all()

    # brute-force check on the keep-set: no within-cell pair of keepers
    # may exceed the threshold (else one of them should have been dropped)
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    cell = dict(zip(out.vec_id, out.cid))
    keep_ids = sorted(keep.vec_id)
    for i, a in enumerate(keep_ids):
        va = vecs[a]
        na = np.sqrt(
            sum(round(x * x * 1e12) for x in va) / 1e12
        )
        for b in keep_ids[i + 1:]:
            if cell[a] != cell[b]:
                continue
            vb = vecs[b]
            nb = np.sqrt(sum(round(x * x * 1e12) for x in vb) / 1e12)
            dot = sum(round(x * y * 1e12) for x, y in zip(va, vb)) / 1e12
            assert round(dot / (na * nb), 9) < sim.SEMDEDUP_THRESHOLD, (a, b)


def test_pq_rerank_recall_floor(spark, sf_dir):
    """PQ shortlist + exact rerank must recover a solid share of the true
    L2 top-5 even on near-uniform vectors (0.75 measured; floor 0.55)."""
    import numpy as np
    from codex_africanus_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = sim.pq_topk(emb, k=5).toPandas()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    recalls = []
    for q in sorted(got.query_id.unique()):
        d = sorted(
            (float(np.sum((vecs[q] - v) ** 2)), i)
            for i, v in vecs.items() if i != q
        )
        exact5 = {i for _, i in d[:5]}
        mine = set(got[got.query_id == q].neighbor_id)
        recalls.append(len(exact5 & mine) / 5)
    assert sum(recalls) / len(recalls) >= 0.55, recalls


def test_unrolled_kernels_match_hof_forms(spark, sf_dir):
    """The codegen (unrolled, truncation-round) kernels must be value-
    identical to the generic HOF forms on real data — this equality is
    what lets the hot paths swap forms without touching any oracle."""
    from pyspark.sql import functions as F
    from codex_africanus_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = (
        emb.limit(100).select(F.col("embedding").alias("ea"))
        .crossJoin(emb.limit(40).select(F.col("embedding").alias("eb")))
    )
    diff = pairs.select(
        (sim._qdot("ea", "eb") - sim._qdot_unrolled("ea", "eb")).alias("dd"),
        (sim._qdist2("ea", "eb") - sim._qdist2_unrolled("ea", "eb")).alias("dq"),
    ).agg(F.max(F.abs("dd")), F.max(F.abs("dq"))).first()
    assert tuple(diff) == (0, 0), diff


def test_persisted_ivf_probe_plan_and_parity(spark, sf_dir, tmp_path):
    """Build-once/probe-many: the probe-only plan must have at most 3
    hash exchanges (probe-cell window + final top-k; never a shuffle of
    the assignment fact table), and its results must be bit-identical
    to the build-inline ivf_topk."""
    emb = load(spark, "embeddings", sf_dir)
    root = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, root)
    probe = sim.ivf_probe_topk(spark, root)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    a = sorted(map(tuple, probe.collect()))
    b = sorted(map(tuple, sim.ivf_topk(emb).collect()))
    assert a == b
    # staleness guard: same count ⇒ no rebuild (same snapshot version)
    from codex_africanus_spark.sources import snapshot as snap

    v_before = snap.latest_version(f"{root}/assign")
    sim.ivf_persisted_topk(spark, emb, root).collect()
    assert snap.latest_version(f"{root}/assign") == v_before


def test_corpus_fingerprint_overflow_free(spark, sf_dir):
    """r5 regression: the content checksum must accumulate in
    decimal(38,0) (a LongType sum of full-range xxhash64 values throws
    ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode) and wrap to
    a signed 64-bit value, partition-order independent."""
    emb = load(spark, "embeddings", sf_dir)
    n, chk = sim._corpus_fingerprint(emb)
    assert n > 0 and -(1 << 63) <= chk < (1 << 63)
    n2, chk2 = sim._corpus_fingerprint(emb.repartition(13))
    assert (n, chk) == (n2, chk2)


def test_warm_probe_never_scans_corpus(spark, sf_dir, tmp_path, monkeypatch):
    """r5 verdict #3: once the META holds a matching source file-set
    digest, a probe must be O(probe) — no content-fingerprint aggregate
    over the raw corpus, and (IVF) no corpus scan in the probe plan."""
    emb = load(spark, "embeddings", sf_dir)
    ivf_root, pq_root = str(tmp_path / "ivf"), str(tmp_path / "pq")
    sim.ivf_persisted_topk(spark, emb, ivf_root).collect()  # cold: build+warm
    sim.pq_persisted_topk(spark, emb, pq_root).collect()

    def boom(df):
        raise AssertionError("corpus content-fingerprint ran on a warm probe")

    monkeypatch.setattr(sim, "_corpus_fingerprint", boom)
    probe = sim.ivf_persisted_topk(spark, emb, ivf_root)
    assert len(probe.collect()) > 0
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan  # snapshot tables only
    assert len(sim.pq_persisted_topk(spark, emb, pq_root).collect()) > 0


def test_tombstone_invalidates_mid_rebuild_meta(spark, sf_dir, tmp_path):
    """ADVICE r5 low: a crash between the data-table overwrite and the
    META commit must read as stale — the tombstone written before the
    overwrite guarantees it for both freshness tiers."""
    emb = load(spark, "embeddings", sf_dir)
    root = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, root)
    src = source_fingerprint(emb)
    fp = sim._ivf_fingerprint(*sim._corpus_fingerprint(emb))
    assert sim._index_fresh(spark, root, fp)
    assert sim._index_fresh_source(spark, root, sim.IVF_INDEX_FORMAT, fp[3], src)
    sim._tombstone_index_meta(spark, root)  # = crash just after tombstone
    assert not sim._index_fresh(spark, root, fp)
    assert not sim._index_fresh_source(
        spark, root, sim.IVF_INDEX_FORMAT, fp[3], src
    )
    # the entrypoint self-heals: rebuilds and serves the right answer
    a = sorted(map(tuple, sim.ivf_persisted_topk(spark, emb, root).collect()))
    b = sorted(map(tuple, sim.ivf_topk(emb).collect()))
    assert a == b and len(a) > 0


def test_arrow_assign_matches_relational_bit_exact(spark, sf_dir):
    """r13 Arrow assignment tier: on the real corpus, the map-only numpy
    integer replay must reproduce the relational min-struct assignment
    bit-for-bit — cid, norm_q, and the passthrough embedding bytes."""
    emb = load(spark, "embeddings", sf_dir)
    n = emb.count()
    cent = sim._centroids(emb, n_cells=sim._ivf_n_cells(n)).localCheckpoint(
        eager=True
    )

    def key(df):
        return sorted(
            (r.vec_id, r.cid, r.norm_q, tuple(r.embedding)) for r in df.collect()
        )

    a = key(sim._assign_arrow(emb, cent))
    b = key(sim._assign_relational(emb, cent))
    assert len(a) == n and a == b


def test_arrow_assign_fuzz_chunking_and_partition_invariance(spark):
    """Adversarial corpus for the Arrow tier: rounding-boundary
    components (rational grids whose quantized products land ULPs from
    the .5 rule), duplicate vectors (distance ties -> smallest-cid rule),
    and a forced 200-cell quantizer so the numpy row-chunk loop actually
    iterates (step = 4M // (200*64) = 312 < n). Partition invariance
    doubles as the Arrow-batch-split fuzz."""
    import numpy as np

    rng = np.random.default_rng(20260816)
    n, dim = 900, 64
    x = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    # boundary adversaries + exact duplicates
    x[:50] = (
        rng.integers(-2000, 2001, size=(50, dim)) / 2000.0 + 2.5e-7
    ).astype(np.float32)
    x[50:60] = x[:10]
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = sim._centroids(emb, n_cells=200).localCheckpoint(eager=True)

    def key(df):
        return sorted(
            (r.vec_id, r.cid, r.norm_q, tuple(r.embedding)) for r in df.collect()
        )

    a = key(sim._assign_arrow(emb, cent))
    b = key(sim._assign_relational(emb, cent))
    assert len(a) == n and a == b
    assert key(sim._assign_arrow(emb.repartition(7), cent)) == a


def test_ivf_topk_forced_arrow_path_equals_default(spark, sf_dir, monkeypatch):
    """End-to-end: ivf_topk with the Arrow gate forced ON must emit the
    identical top-k frame as the default (relational-at-this-scale)
    path — the probe/rerank consumes the two assignments
    interchangeably."""
    emb = load(spark, "embeddings", sf_dir)
    base = sorted(map(tuple, sim.ivf_topk(emb).collect()))
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_PAIRS", 1)
    forced = sorted(map(tuple, sim.ivf_topk(emb).collect()))
    assert base == forced and len(base) > 0


def test_semantic_dedup_forced_arrow_path_equals_default(
    spark, sf_dir, monkeypatch
):
    """r13: the SemDeDup nearest-centroid assignment (the r13d sf10
    discovery's 625M-pair stage) must be bit-identical between the
    relational argmin and the forced Arrow replay — keep/drop flags and
    canonical ids included."""
    emb = load(spark, "embeddings", sf_dir)
    base = sorted(map(tuple, sim.semantic_dedup(emb).collect()))
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_PAIRS", 1)
    forced = sorted(map(tuple, sim.semantic_dedup(emb).collect()))
    assert base == forced and len(base) > 0


def test_round9_cut_matches_spark_round_at_boundary(spark):
    """r13e: the Arrow pair scorer replaces `round(s, 9) >= th` with the
    half-line `s >= T` (_round9_ge_cut). Lock the equivalence against
    Spark's OWN round over nextafter chains spanning the decision
    boundary, for both registered thresholds."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    for th in (0.35, 0.9):
        cut = sim._round9_ge_cut(th)
        probes = []
        s = cut
        for _ in range(300):
            s = math.nextafter(s, -math.inf)
        for _ in range(600):
            probes.append(s)
            s = math.nextafter(s, math.inf)
        # plus coarse off-boundary values
        probes += [th - 1e-6, th + 1e-6, 0.0, 1.0, th]
        pdf = pd.DataFrame({"s": probes})
        got = (
            spark.createDataFrame(pdf, "s double")
            .select("s", (F.round(F.col("s"), 9) >= F.lit(th)).alias("k"))
            .toPandas()
        )
        want = got.s >= cut
        assert (got.k == want).all(), (
            th,
            got[got.k != want].head(),
        )


def test_semantic_arrow_scorer_chunking_and_dup_dense(spark, monkeypatch):
    """Forced-Arrow SemDeDup on a duplicate-dense fuzz corpus with the
    numpy column-block loop exercised (small block budget via a big
    forced cell) — bit-equal to the relational path."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim = 600, 64
    x = rng.uniform(-1.0, 1.0, size=(n, dim)).astype(np.float32)
    x[100:200] = x[:100]          # exact duplicates (sim == 1.0)
    x[200:250] = x[:50] * 1.7     # parallel scaled copies (sim == ~1.0)
    rows = [(int(i), [float(v) for v in x[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = sorted(map(tuple, sim.semantic_dedup(emb).collect()))
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_PAIRS", 1)
    forced = sorted(map(tuple, sim.semantic_dedup(emb).collect()))
    assert base == forced and len(base) == n
    assert sum(r[3] for r in base) >= 150  # the dup structure must bite


def test_kmeans_forced_arrow_path_equals_default(spark, sf_dir, monkeypatch):
    """r13: every Lloyd assignment (per-round AND final, with the
    argmin's distance column feeding the inertia) must be bit-identical
    between the relational min-struct path and the forced Arrow replay
    — the k-means twin of the IVF path-equivalence lock."""
    emb = load(spark, "embeddings", sf_dir)
    base = sorted(map(tuple, sim.kmeans_lloyd_stats(emb).collect()))
    monkeypatch.setattr(sim, "ARROW_ASSIGN_MIN_PAIRS", 1)
    forced = sorted(map(tuple, sim.kmeans_lloyd_stats(emb).collect()))
    assert base == forced and len(base) > 0


def test_persisted_pq_matches_inline_and_skips_rebuild(spark, sf_dir, tmp_path):
    emb = load(spark, "embeddings", sf_dir)
    root = str(tmp_path / "pq")
    a = sorted(map(tuple, sim.pq_persisted_topk(spark, emb, root).collect()))
    b = sorted(map(tuple, sim.pq_topk(emb).collect()))
    assert a == b and len(a) > 0
    from codex_africanus_spark.sources import snapshot as snap

    v = snap.latest_version(f"{root}/codes")
    sim.pq_persisted_topk(spark, emb, root).collect()
    assert snap.latest_version(f"{root}/codes") == v

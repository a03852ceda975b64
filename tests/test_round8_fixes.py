"""Locks for the round-8 advice/verdict fixes.

1. `_release_checkpoint` tolerates a transient delete failure (keeps the
   path for retry, warns, does NOT kill the query) — r7 verdict #2.
2. The incremental-ingest probe exclusion is id-exact: survivors
   appended by earlier batches ARE consulted by later probes (the old
   modulus filter hid them forever) — r8 advice #2.
3. Registry queries leave nothing pinned in the SQL CacheManager after
   they run (persist→localCheckpoint sweep) — r8 advice #4.
4. noise_weighted_average's Spark and oracle weight expressions are the
   same double expression (ULP-parity) — r8 advice #1.
"""

import warnings

import pytest
from pyspark.sql import functions as F


def test_release_checkpoint_tolerates_delete_failure(spark, sf_dir, tmp_path):
    from codex_africanus_spark.operators import dedup as dedup_op

    df = spark.range(3)
    # an unresolvable filesystem scheme makes the Hadoop delete raise —
    # the same failure surface as a transient HDFS/S3 hiccup
    df._cas_ckpt_dir = "nosuchscheme://bucket/ckpt-xyz"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup_op._release_checkpoint(df)  # must NOT raise
    assert any("deferred" in str(w.message) for w in caught)
    # path retained so a later release / vacuum can retry
    assert df._cas_ckpt_dir == "nosuchscheme://bucket/ckpt-xyz"

    # and a release against a real directory still deletes + clears
    real = tmp_path / "ckpt-real"
    real.mkdir()
    (real / "part-0").write_text("x")
    df._cas_ckpt_dir = str(real)
    dedup_op._release_checkpoint(df)
    assert df._cas_ckpt_dir is None
    assert not real.exists()


@pytest.mark.slow
def test_ingest_probe_consults_appended_survivors(spark, sf_dir, tmp_path):
    """An index row appended AFTER the base build — with an id in the
    batch-modulus class but NOT in the current batch — must be visible
    to a warm probe. Under the pre-r8 modulus exclusion it was
    permanently invisible; the contract ('the next batch deduplicates
    against appended survivors') now holds by id-exact anti-join."""
    from codex_africanus_spark.operators import dedup as dedup_op
    from codex_africanus_spark.sources import snapshot as snap
    from codex_africanus_spark.sources.tables import load

    docs = load(spark, "documents", sf_dir)
    root = str(tmp_path / "ingest")
    r1 = {r.doc_id: r for r in dedup_op.incremental_dedup_ingest(
        spark, docs, root).collect()}

    # pick a surviving batch doc and forge an earlier-batch survivor:
    # identical text, fresh id in the SAME modulus class (% M == 0) so
    # the old filter would have hidden it, guaranteed absent from docs
    target = next(
        r for r in sorted(r1.values(), key=lambda r: r.doc_id)
        if r.is_dup == 0 and r.n_shingles > 0
    )
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    m = dedup_op.INGEST_MODULUS
    ghost_id = (max_id // m + 2) * m
    assert ghost_id % m == 0
    text = docs.filter(F.col("doc_id") == target.doc_id).collect()[0].text
    ghost = spark.createDataFrame([(ghost_id, text)], "doc_id long, text string")
    sh_ghost = dedup_op._shingle_frame(ghost).distinct()
    idx_df = snap.read_snapshot(spark, f"{root}/df")
    sets_ghost = dedup_op._rarest_first_sets(sh_ghost, idx_df)
    snap.commit(sets_ghost, f"{root}/sets", mode="append")
    snap.commit(dedup_op._prefix_explode(sets_ghost), f"{root}/prefix",
                mode="append")

    # warm probe (meta + source files unchanged): the target doc must
    # now resolve as a duplicate of the appended ghost at jaccard 1
    r2 = {r.doc_id: r for r in dedup_op.incremental_dedup_ingest(
        spark, docs, root).collect()}
    hit = r2[target.doc_id]
    assert hit.is_dup == 1
    assert hit.best_match == ghost_id
    assert hit.jaccard_q == pytest.approx(1.0)
    # every other batch doc's verdict is untouched by the append
    for did, r in r2.items():
        if did != target.doc_id:
            assert (r.is_dup, r.best_match) == (r1[did].is_dup, r1[did].best_match)


@pytest.mark.parametrize(
    "qname",
    ["jaccard_threshold_sweep", "token_budget_selection",
     "briggs_robust_sweep"],
)
def test_no_cache_manager_residue(spark, sf_dir, qname):
    """persist() pins plans in the SQL CacheManager for the session —
    repeated query runs accumulated executor memory (r8 advice). After
    the localCheckpoint sweep, running these queries must leave the
    CacheManager empty."""
    from codex_africanus_spark.queries import registry

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "pre-existing cache residue — fix the other test"
    out = registry()[qname].fn(spark, sf_dir)
    assert out.limit(5).collect() is not None
    assert cm.isEmpty(), f"{qname} left a pinned CacheManager entry"


@pytest.mark.slow
def test_ingest_cache_manager_clean(spark, sf_dir, tmp_path):
    from codex_africanus_spark.operators import dedup as dedup_op
    from codex_africanus_spark.sources.tables import load

    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = load(spark, "documents", sf_dir)
    dedup_op.incremental_dedup_ingest(
        spark, docs, str(tmp_path / "ing")).collect()
    assert cm.isEmpty()


def test_noise_weight_expression_parity():
    """The Spark side quantizes (1/σ²)·1e6; the oracle must round the
    IDENTICAL double expression — (1.0/(σ·σ))·1e6, not 1e6/(σ·σ) —
    or a 1-ULP difference can flip the rounded BIGINT at a .5 boundary."""
    from codex_africanus_spark.queries.msops import _NOISE_WEIGHTED_ORACLE

    assert "ROUND((1.0 / (sigma * sigma)) * 1000000.0)" in _NOISE_WEIGHTED_ORACLE
    assert "ROUND(1000000.0 / (sigma * sigma))" not in _NOISE_WEIGHTED_ORACLE


def test_per_spec_transformer_resolves_and_is_required(spark, sf_dir):
    """The per-spec transformer override: with it, the custom term's
    missing `flux_nu` column is derived; without it, the same spec must
    fail schema validation (proving the transformer did the work)."""
    from codex_africanus_spark.plans import rime as rime_plan
    from codex_africanus_spark.queries import radio
    from codex_africanus_spark.sources import tpch_ms

    vis = tpch_ms.vis_table(spark, sf_dir).limit(50)
    src = tpch_ms.source_table(spark, sf_dir)
    out = rime_plan.rime(
        "(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]", vis, src,
        terms={"B": radio.SpectralFluxNuTerm},
        transformers=(radio.SpectralFluxTransformer,),
    )
    assert out.limit(5).count() > 0
    with pytest.raises(ValueError, match="flux_nu"):
        rime_plan.rime(
            "(Kpq, Bpq): [I,Q,U,V] -> [XX,XY,YX,YY]", vis, src,
            terms={"B": radio.SpectralFluxNuTerm},
        )

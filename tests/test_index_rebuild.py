"""Locks for the incremental-dedup index rebuild (r7 verdict #6).

1. The rebuilt index is bit-identical to a FROM-SCRATCH build over the
   grown corpus (base + appended survivors) — the O(index) re-rank from
   the sets table's own shingle arrays loses nothing.
2. Time travel to the pre-rebuild generation still works after the
   rebuild's vacuum (exactly one prior generation is retained).
3. Probe reports are invariant under the rebuild (lossless pruning
   under any consistent rank order).
4. A second rebuild reclaims the first generation's transaction
   directories — the vacuum actually deletes superseded files.
"""

from pathlib import Path

from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.sources import snapshot as snap
from codex_africanus_spark.sources.tables import load, source_fingerprint
import pytest

# Heavyweight end-to-end rehearsal: excluded from the default (driver-budget)
# selection; run with `pytest -m slow` (see pytest.ini).
pytestmark = pytest.mark.slow


def _sets_rows(df):
    return sorted(
        (r.doc_id, tuple(r.ord_h), r.s)
        for r in df.select("doc_id", "ord_h", "s").collect()
    )


def test_rebuild_scratch_equivalence_time_travel_vacuum(spark, sf_dir, tmp_path):
    docs = load(spark, "documents", sf_dir)
    root = str(tmp_path / "idx")
    r1 = dedup_op.incremental_dedup_ingest(spark, docs, root).collect()
    pre_rows = _sets_rows(snap.read_snapshot(spark, f"{root}/sets"))

    pre = dedup_op.dedup_index_rebuild(spark, root)
    assert pre["sets"] == 2  # base overwrite (v1) + survivor append (v2)

    # 1. bit-equal to a from-scratch build over the grown corpus
    survivors = [r.doc_id for r in r1 if r.is_dup == 0 and r.n_shingles > 0]
    m = dedup_op.INGEST_MODULUS
    base = docs.filter(F.col("doc_id") % m != 0)
    grown_sh = (
        dedup_op._shingle_frame(base).distinct()
        .unionByName(
            dedup_op._shingle_frame(
                docs.filter(F.col("doc_id").isin(survivors))
            ).distinct()
        )
    )
    df_scratch = grown_sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    scratch = dedup_op._rarest_first_sets(grown_sh, df_scratch)
    rebuilt = snap.read_snapshot(spark, f"{root}/sets")
    assert _sets_rows(rebuilt) == _sets_rows(scratch)
    # ranks actually moved (frozen base order ≠ grown-corpus order)
    assert _sets_rows(rebuilt) != pre_rows or len(survivors) == 0

    # 2. time travel to the pre-rebuild generation
    old = snap.read_snapshot(spark, f"{root}/sets", version=pre["sets"])
    assert _sets_rows(old) == pre_rows

    # 3. probe invariance: warm re-probe over the rebuilt index
    r2 = dedup_op.incremental_dedup_ingest(spark, docs, root).collect()
    assert sorted(map(tuple, r2)) == sorted(map(tuple, r1))

    # 4. a second rebuild vacuums the first generation's txn dirs
    data = Path(root) / "sets" / "data"
    txns_before = {d.name for d in data.iterdir() if d.is_dir()}
    pre2 = dedup_op.dedup_index_rebuild(spark, root)
    txns_after = {d.name for d in data.iterdir() if d.is_dir()}
    assert txns_before - txns_after, "vacuum must reclaim superseded txns"
    # the retained window: new head and the immediately-prior generation
    assert _sets_rows(
        snap.read_snapshot(spark, f"{root}/sets", version=pre2["sets"])
    ) == _sets_rows(rebuilt)


def test_rebuild_requires_committed_index(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError, match="no committed ingest index"):
        dedup_op.dedup_index_rebuild(spark, str(tmp_path / "nope"))


def test_ivf_append_additive_fingerprint_and_crash_safety(spark, sf_dir, tmp_path):
    """(a) The additively-rolled checksum after an append equals the
    deep content fingerprint of the FULL corpus (no rescan was used to
    produce it); (b) an interrupted build+append sequence (sentinel
    source digest) reads as stale, never serving a base-only index as
    complete; (c) appended vectors are served by probes."""
    from pyspark.sql import functions as F

    from codex_africanus_spark.operators import similarity as sim_op
    from codex_africanus_spark.sources import snapshot as snap

    emb = load(spark, "embeddings", sf_dir)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    newv = emb.filter(F.col("vec_id") % 10 == 0)
    root = str(tmp_path / "ivf")
    src = source_fingerprint(emb)
    consts = sim_op._ivf_fingerprint(0, 0)[3]

    sim_op.build_ivf_index(base, root, source_fp="pending-append")
    # (b) crash window: base-built index must NOT read warm for the
    # full-corpus digest
    assert not sim_op._index_fresh_source(
        spark, root, sim_op.IVF_INDEX_FORMAT, consts, src
    )
    sim_op.ivf_index_append(spark, root, newv, source_fp=src)
    assert sim_op._index_fresh_source(
        spark, root, sim_op.IVF_INDEX_FORMAT, consts, src
    )
    # (a) additive checksum == deep content fingerprint of base ∪ new
    full_fp = sim_op._ivf_fingerprint(*sim_op._corpus_fingerprint(emb))
    assert sim_op._index_fresh(spark, root, full_fp)
    # (c) every appended vector is in the served assignment
    served = {
        r.vec_id
        for r in snap.read_snapshot(spark, f"{root}/assign")
        .select("vec_id").collect()
    }
    assert {r.vec_id for r in newv.select("vec_id").collect()} <= served

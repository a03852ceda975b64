"""Round-13 fixes.

1. prefix_filter_jaccard_join shuffle-grain two-level tier (closes the
   r12 verdict's "fallback re-inherits the disk quadratic"): past the
   broadcast gate the SAME core/rare decomposition now runs with
   sort-merge set joins and a groupBy-deduped group-pair channel. Both
   paths (broadcast two-level, shuffle two-level) must be
   result-identical — on the real corpus AND on the adversarial
   huge+duplication-dense regime the pre-r12 shuffle pipeline died on.
2. The shuffle path must contain no broadcast of the core-set frame
   (the exact OOM the gate exists to prevent).
"""

import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.sources.tables import load


def _dup_dense_corpus(spark, sf_dir, n_base=40, n_copies=12):
    """The sf10 failure regime in miniature (mirrors the r12 test):
    perturbed near-copies so cross-copy exact dups disappear but core
    prefixes collapse — the duplication-quadratic candidate space."""
    base = load(spark, "documents", sf_dir).limit(n_base)
    copies = spark.range(n_copies).select(F.col("id").alias("k"))
    return (
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


def _rows(df):
    return [tuple(r) for r in df.orderBy("doc_a", "doc_b").collect()]


@pytest.mark.slow
def test_prefix_two_paths_identical_real_corpus(spark, sf_dir):
    """broadcast two-level == shuffle two-level on the real documents
    table."""
    docs = load(spark, "documents", sf_dir)
    bcast = _rows(dedup_op.prefix_filter_jaccard_join(docs))
    shuf = _rows(dedup_op.prefix_filter_jaccard_join(docs, broadcast_max_bytes=0))
    assert bcast == shuf
    assert len(bcast) > 0


def test_prefix_shuffle_tier_exact_on_duplication_dense_corpus(spark, sf_dir):
    """The regime that killed the pre-r12 fallback at sf10: forced past
    the gate (broadcast_max_bytes=0), the shuffle two-level tier must be
    byte-identical to the broadcast path on a duplication-dense corpus,
    including the duplication-quadratic pair floor."""
    docs = _dup_dense_corpus(spark, sf_dir)
    bcast = _rows(dedup_op.prefix_filter_jaccard_join(docs))
    shuf = _rows(dedup_op.prefix_filter_jaccard_join(docs, broadcast_max_bytes=0))
    assert bcast == shuf
    assert len(shuf) >= 40 * (12 * 11) // 2


def test_prefix_shuffle_tier_plan_has_no_broadcast_hint(spark, sf_dir):
    """Past the gate, NOTHING is FORCED to broadcast: the shuffle
    tier's optimized logical plan must carry zero broadcast join hints
    (the broadcast path carries six). AQE may still pick broadcast at
    runtime when a side measures small — that is the point: the hint is
    what would force a 100 TB core table onto the driver regardless of
    its size."""
    docs = load(spark, "documents", sf_dir)
    shuf = dedup_op.prefix_filter_jaccard_join(docs, broadcast_max_bytes=0)
    lp = shuf._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in lp, lp[:4000]
    bc = dedup_op.prefix_filter_jaccard_join(docs)
    lp_bc = bc._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in lp_bc  # the gate really selects paths


@pytest.mark.parametrize("seed", [0, 1])
def test_prefix_shuffle_tier_fuzz_parity(spark, seed):
    """Adversarial fuzz: random corpora mixing exact dups, near-dups,
    rare-token-dense docs (big delta channel) and disjoint docs; the
    shuffle tier must equal the broadcast path on every draw."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    did = 0
    for b in range(25):
        base = rng.sample(vocab, rng.randint(8, 20))
        # rare decorations: tokens unique to this base family (df <= 16)
        for k in range(rng.randint(1, 6)):
            toks = list(base)
            for _ in range(rng.randint(0, 3)):
                toks.append(f"rare{b}_{rng.randint(0, 4)}")
            rng.shuffle(toks)
            text = " ".join(toks)
            rows.append((did, text, "en", "fuzz", len(text)))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).localCheckpoint(eager=True)
    bcast = _rows(dedup_op.prefix_filter_jaccard_join(docs))
    shuf = _rows(dedup_op.prefix_filter_jaccard_join(docs, broadcast_max_bytes=0))
    assert bcast == shuf

"""Deduplication operators for 100 TB training-data pipelines.

Four tiers, cheapest-first (the standard web-scale dedup ladder):

1. **Exact** — hash-groupBy on content digest. One shuffle of
   (digest, doc_id); map-side partial agg makes the shuffle O(#distinct).
2. **MinHash + LSH** — word-shingle k-permutation MinHash signatures,
   banded into LSH buckets; only same-bucket docs are candidate pairs,
   turning the O(n²) near-dup problem into a bucket-local self-join.
3. **SimHash** — bit-voting fingerprint; near-dups differ in few bits.
4. **n-gram Jaccard** — exact verification of candidate pairs.

Everything is built from engine-portable primitives (md5-derived integer
hashes, functions/text.py), so every tier is exactly DuckDB-oracle-checkable
— no Python in the hot path, all JVM expressions.

Scale notes: signatures are k min-aggregations over an exploded shingle
frame — one shuffle keyed by doc_id (or none if docs are already
partitioned by doc_id). The LSH self-join shuffles by (band, band_key),
which is uniformly distributed by construction (hash keys), so no skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from codex_africanus_spark.sources.tables import (
    fan_out, frame_files, local_frame, source_fingerprint)
from codex_africanus_spark.functions.text import (
    HASH_P,
    hash31,
    hash31_sql,
    hash60,
    hash60_sql,
    word_3gram_shingles,
    WORD_3GRAM_SQL,
)

# Fixed permutation constants (k=8), all < 2^31-1 so a·h+b < 2^63.
MINHASH_A = [1299721, 7919, 104729, 611953, 15485863, 32452843, 49979687, 67867967]
MINHASH_B = [104827, 122387, 611999, 789221, 982451, 1299709, 2750159, 4256233]
N_BANDS = 4  # 8 sigs → 4 bands × 2 rows
SIMHASH_BITS = 16


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact content dedup: md5 digest → canonical (min) doc_id + count."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_digest"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Arrow-shingler crossover: input corpus bytes (sum of file sizes) at
# which the mapInPandas kernel beats the JVM chain (_arrow_shingle_ok).
ARROW_SHINGLE_MIN_BYTES = 32 << 20


def _arrow_shingle_ok(docs: DataFrame) -> bool:
    """Dispatch gate for the Arrow shingler (r14, guide §4.2): the JVM
    path stays authoritative unless the frame matches the corpus
    contract (bigint doc_id + string text) AND the corpus is big enough
    to amortize the Python boundary's fixed per-stage latency —
    measured: the kernel is 1.31x/1.13x on minhash-LSH/prefix-filter at
    sf10 (59 MB corpus) but 0.8x on the 0.6 MB sf0.1 corpus, where the
    shingle CPU is smaller than the worker round-trip. Size-adaptive
    like tables.fan_out: the sum of the input file sizes
    (`tables.frame_files`) against ARROW_SHINGLE_MIN_BYTES; a frame
    that is not a scan of local files (small/test frames) stays JVM."""
    d = dict(docs.dtypes)
    if d.get("doc_id") != "bigint" or d.get("text") != "string":
        return False
    files = frame_files(docs)
    return bool(files) and sum(size for _, size, _ in files) >= ARROW_SHINGLE_MIN_BYTES


def _shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, h) — one row per word-3gram shingle, h ∈ [0, 2^31-1).

    r14 (guide §4.2): the hot form is an Arrow `mapInPandas` kernel —
    Python's C md5 + str.split measure ~14x less CPU per shingle than
    the codegen split/slice/concat_ws/md5/conv chain (2.4 us vs ~34 us
    at sf0.1). Value-identical by construction: same UTF-8 bytes into
    the same md5, same first-15-hex-digits integer, same % 2^31-1
    (locked bit-for-bit by tests/test_round14_arrow_shingle.py);
    row-skipping matches the JVM filter (size(split(text,' ')) >= 3,
    with null text yielding size -1 and dropping)."""
    if _arrow_shingle_ok(docs):
        inp = docs.select("doc_id", "text")

        def gen(batches):
            import hashlib

            import numpy as _np
            import pandas as _pd

            md5 = hashlib.md5
            p = 2147483647
            for pdf in batches:
                ids: list = []
                hs: list = []
                for did, s in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                    if s is None:
                        continue
                    w = s.split(" ")
                    n = len(w) - 2
                    if n <= 0:
                        continue
                    ids.extend([did] * n)
                    join = " ".join
                    hs.extend(
                        int(md5(join(w[j:j + 3]).encode()).hexdigest()[:15], 16) % p
                        for j in range(n)
                    )
                yield _pd.DataFrame(
                    {
                        "doc_id": _np.asarray(ids, dtype=_np.int64),
                        "h": _np.asarray(hs, dtype=_np.int64),
                    }
                )

        return inp.mapInPandas(gen, "doc_id long, h long")
    eligible = docs.filter(F.size(F.split(F.col("text"), " ")) >= 3)
    return (
        eligible.select("doc_id", F.explode(word_3gram_shingles("text")).alias("shingle"))
        .select("doc_id", hash31(F.col("shingle")).alias("h"))
    )


def minhash_signatures(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """k=8 permutation MinHash signature per document.

    MinHash is per-document state, so it is computed as a PURE PROJECTION:
    hash the shingle array once into an intermediate column, then each
    signature is an array_min over a transform — zero shuffles, the
    whole thing rides the scan. (The earlier explode + groupBy form paid
    a doc-cardinality shuffle for what is row-local arithmetic.)

    `keep` passes extra columns through the projection without a
    re-join.

    r14 (guide §4.2): the hot form is an Arrow `mapInPandas` kernel —
    md5-shingling in C-speed Python (see _shingle_frame) and the k=8
    permutations as numpy int64 passes over the batch's flattened
    shingle array with per-doc `minimum.reduceat` segments. Integer
    arithmetic is exact and identical in both engines (a·h+b < 2^63);
    locked bit-for-bit by tests/test_round14_arrow_shingle.py."""
    if _arrow_shingle_ok(docs):
        inp = fan_out(docs).select("doc_id", *keep, "text")
        pass_fields = [inp.schema[c] for c in ("doc_id", *keep)]
        from pyspark.sql.types import LongType, StructField, StructType

        out_schema = StructType(
            pass_fields
            + [StructField(f"sig_{i}", LongType()) for i in range(len(MINHASH_A))]
        )
        pass_cols = ["doc_id", *keep]
        a_consts = list(MINHASH_A)
        b_consts = list(MINHASH_B)

        def gen(batches):
            import hashlib

            import numpy as _np

            md5 = hashlib.md5
            p = 2147483647
            for pdf in batches:
                flat: list = []
                counts: list = []
                mask = _np.zeros(len(pdf), dtype=bool)
                for i, s in enumerate(pdf["text"]):
                    if s is None:
                        continue
                    w = s.split(" ")
                    n = len(w) - 2
                    if n <= 0:
                        continue
                    mask[i] = True
                    counts.append(n)
                    join = " ".join
                    flat.extend(
                        int(md5(join(w[j:j + 3]).encode()).hexdigest()[:15], 16) % p
                        for j in range(n)
                    )
                out = pdf.loc[mask, pass_cols].reset_index(drop=True)
                arr = _np.asarray(flat, dtype=_np.int64)
                starts = _np.zeros(len(counts), dtype=_np.int64)
                if len(counts) > 1:
                    starts[1:] = _np.cumsum(counts[:-1])
                for i, (a, b) in enumerate(zip(a_consts, b_consts)):
                    v = (a * arr + b) % p
                    out[f"sig_{i}"] = (
                        _np.minimum.reduceat(v, starts)
                        if len(counts)
                        else _np.empty(0, dtype=_np.int64)
                    )
                yield out

        return inp.mapInPandas(gen, out_schema)
    eligible = fan_out(docs).filter(F.size(F.split(F.col("text"), " ")) >= 3)
    hashed = eligible.select(
        "doc_id", *keep, F.transform(word_3gram_shingles("text"), hash31).alias("hs")
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P)
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return hashed.select("doc_id", *keep, *sig_cols)


def lsh_banded(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_0..k, band, band_key): one posexplode over the array
    of band keys — the shared candidate-generation frame for LSH pairing
    and for seeding connected-components labels."""
    sigs = minhash_signatures(docs)
    band_keys = F.array(
        *[
            F.concat_ws("_", F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(
        "doc_id",
        *[F.col(f"sig_{k}") for k in range(len(MINHASH_A))],
        F.posexplode(band_keys).alias("band", "band_key"),
    )


def _pair_intersections(cand: DataFrame, sh: DataFrame, carry: tuple = (),
                        out_col: str = "inter") -> DataFrame:
    """Exact shingle-set intersection counts for a candidate-pair frame —
    THE shared verification kernel (one definition so the containment,
    prefix-filter, and calibration tiers cannot fork; the project rule
    recorded for _hogbom/_ivf helpers applies here too). `cand` must
    carry doc_a/doc_b (+`carry` columns, grouped through); `sh` is a
    distinct (doc_id, h) set frame."""
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", *carry)
        .agg(F.count(F.lit(1)).alias(out_col))
    )


_CKPT_ROOT: dict = {}  # applicationId -> base dir for per-frame ckpt subdirs


def _cut_lineage(df: DataFrame, supersedes: DataFrame | None = None) -> DataFrame:
    """Eagerly materialize `df` AND truncate its logical lineage (what
    iterative loops need; persist alone keeps the plan, which doubles
    per round). Uses the RELIABLE checkpoint when the session has a
    checkpoint directory configured — fault-tolerant on a real cluster,
    where an executor loss must recompute — and falls back to
    localCheckpoint for local/dev sessions where no durable store is
    available (executor loss there means the whole app died anyway).

    Reliable checkpoints land in a per-frame directory (SparkContext
    appends a fresh UUID on every setCheckpointDir call), recorded on
    the returned frame, so loops can delete superseded rounds' files:
    pass `supersedes=<previous checkpointed frame>` once the new frame
    is safe to stand alone — its files are removed immediately, keeping
    on-disk state bounded at O(1) rounds instead of O(iterations)
    (round-5 advice: reliable checkpoints are never GC'd unless
    spark.cleaner.referenceTracking.cleanCheckpoints is on, and that
    defaults to false)."""
    sc = df.sparkSession.sparkContext
    try:
        jssc = sc._jsc.sc()
        has_dir = jssc.checkpointDir().isDefined()
    except Exception:
        has_dir = False
    if has_dir:
        cleaner = sc.getConf().get(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
        )
        if cleaner.lower() != "true" and not getattr(
            _cut_lineage, "_warned_cleaner", False
        ):
            import warnings

            warnings.warn(
                "checkpointDir is set but "
                "spark.cleaner.referenceTracking.cleanCheckpoints is false: "
                "non-superseded checkpoints (loop seeds / final frames) "
                "persist on disk after the app; superseded rounds are "
                "deleted eagerly by _cut_lineage.",
                RuntimeWarning,
                stacklevel=2,
            )
            _cut_lineage._warned_cleaner = True
        # re-setting the dir to a stable per-app root makes Spark mint a
        # fresh UUID subdir for THIS frame's files — deletable in isolation.
        # Evict entries for dead applications first: one long-lived Python
        # process cycling SparkSessions would otherwise grow the map
        # unboundedly (r7 advice).
        for app_id in [a for a in _CKPT_ROOT if a != sc.applicationId]:
            del _CKPT_ROOT[app_id]
        root = _CKPT_ROOT.setdefault(
            sc.applicationId, jssc.checkpointDir().get()
        )
        sc.setCheckpointDir(root)
        out = df.checkpoint(eager=True)
        out._cas_ckpt_dir = jssc.checkpointDir().get()
        if supersedes is not None:
            _release_checkpoint(supersedes)
        return out
    # local checkpoints: block-manager state, freed by the ContextCleaner
    # as the superseded frame's references drop — nothing on disk to delete
    return df.localCheckpoint(eager=True)


def _release_checkpoint(df: DataFrame) -> None:
    """Delete the reliable-checkpoint files backing a frame returned by
    _cut_lineage. Only call once every consumer of `df` has either run
    or been re-rooted on a NEWER eager checkpoint — after deletion an
    executor loss cannot recompute from it."""
    sub = getattr(df, "_cas_ckpt_dir", None)
    if not sub:
        return
    sc = df.sparkSession.sparkContext
    # clear the attribute only AFTER the delete succeeds: clearing first
    # made a transient filesystem failure permanently leak that round's
    # files (nothing held the path any more — r7 advice). And a FAILED
    # delete must not kill the query: this is maintenance-time cleanup,
    # not load-bearing work — keep the path for the next release (or
    # vacuum) to retry and surface a warning instead (r7 verdict #2).
    try:
        p = sc._jvm.org.apache.hadoop.fs.Path(sub)
        p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)
    except Exception as exc:
        import warnings

        warnings.warn(
            f"checkpoint release deferred, will retry ({sub}): {exc}",
            RuntimeWarning,
            stacklevel=2,
        )
        return
    df._cas_ckpt_dir = None


def _pairs_from_banded(banded: DataFrame, with_sig_match: bool) -> DataFrame:
    """Distinct candidate pairs from a banded frame: docs sharing any
    (band, band_key) with doc_a < doc_b canonical orientation. The ONE
    place the LSH candidate-join condition lives — minhash_lsh_pairs and
    near_dup_clusters both build on it, so banding changes cannot make
    the cluster graph diverge from the pair report."""
    left = banded.alias("a")
    right = banded.alias("b")
    cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    ]
    if with_sig_match:
        cols.append(
            sum(
                (F.col(f"a.sig_{k}") == F.col(f"b.sig_{k}")).cast("int")
                for k in range(len(MINHASH_A))
            ).alias("n_sig_match")
        )
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*cols)
        .distinct()
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs via banded LSH (bands of 2 signature rows):
    docs sharing any band key are candidates; estimated Jaccard = fraction
    of matching signature components.

    The banded frame is one posexplode over an array of band keys (not a
    4-way union, which re-executed the signature pipeline per band), and
    the self-join's two sides are identical subtrees shuffled on the same
    (band, band_key) key, so Spark's ReuseExchange computes the banded
    frame once. Net: the first and only fact-scale work before the
    candidate join is the parquet scan itself."""
    pairs = _pairs_from_banded(lsh_banded(docs), with_sig_match=True)
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_sig_match",
        (F.col("n_sig_match") / len(MINHASH_A)).alias("est_jaccard"),
    )


def near_dup_clusters(docs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over the LSH candidate-pair graph: every doc
    gets a cluster_id (= min doc_id reachable through near-dup edges) and
    a canonical flag — the dedup ladder's final "keep one per cluster"
    step.

    Implementation: iterative min-label propagation. Each round joins the
    symmetric edge list against current labels, takes the per-node min of
    neighbour labels, and stops when no label changed (the convergence
    probe is one count() at doc cardinality). Rounds needed = graph
    diameter; near-dup components are shallow (pairwise-similar docs form
    dense blobs, not chains), so this is a handful of rounds of
    edge-cardinality shuffles — the standard Spark CC shape. Labels are
    integers throughout: exact, no float discipline needed.

    Labels are SEEDED with each doc's min bucket-mate (min doc_id over
    its LSH buckets): bucket-mates are exactly the candidate edges, so
    the seed equals one whole propagation round, computed as a groupBy
    co-partitioned with the bucket key instead of an edge join — dense
    star-shaped components converge immediately and the loop usually
    only runs its convergence probe.

    The banded LSH frame is materialized ONCE and feeds BOTH the pair
    join and the bucket-minima seed (previously the signature pipeline
    executed three times: once per union branch of the edge list, once
    for the seed). Iteration state is cut with _cut_lineage (checkpoint),
    not persist(): persist caches partitions but keeps the logical
    lineage, which DOUBLES per propagation round (labels joins itself
    via neigh) — AQE re-renders the exploding plan string on every
    stage update, which measured 3-4× the operator's wall time at sf0.1
    and OOMs the driver inside explainString when composed into larger
    queries (dedup_keep_best_quality). Checkpointed frames start a fresh
    plan, keeping every round's plan constant-size.

    Checkpoint state is bounded: rounds ≈ component diameter (the
    bucket-minima seed collapses star components immediately, so 2-3 in
    practice), and each round's block is the (doc_id, label) table —
    16 bytes/doc, NOT corpus-sized. Blocks are released by the context
    cleaner as the loop drops its references; with a checkpoint dir set
    (see _cut_lineage) cleanup follows spark.cleaner settings."""
    banded = _cut_lineage(lsh_banded(docs).select("doc_id", "band", "band_key"))
    pairs = _pairs_from_banded(banded, with_sig_match=False)
    # materialize the edge list ONCE — without this every iteration's join
    # re-executes the candidate join upstream
    edges = _cut_lineage(
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    )
    bucket_min = banded.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("bmin")
    )
    seed = (
        banded.join(bucket_min, ["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("seed_label"))
    )
    labels = (
        docs.select("doc_id")
        .join(seed, "doc_id", "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("seed_label"), F.col("doc_id"))
            ).alias("label"),
        )
    )
    # banded fed the edge checkpoint, bucket_min, and the seed — all
    # consumed once labels materializes, so its files go with this call
    labels = _cut_lineage(labels, supersedes=banded)
    prev_ckpt = labels
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nlabel"))
        )
        # each round's checkpoint supersedes the previous round's — disk
        # state stays O(1) in iterations (plus edges + the live frame)
        new_labels = _cut_lineage(
            labels.join(neigh, labels.doc_id == neigh.doc_a, "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                F.col("label").alias("old_label"),
            ),
            supersedes=prev_ckpt,
        )
        prev_ckpt = new_labels
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    _release_checkpoint(edges)  # the converged labels stand alone now
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    out = (
        labels.join(F.broadcast(sizes), "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("label")).cast("int").alias("is_canonical"),
        )
    )
    return out


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """16-bit SimHash: per token-hash bit position, vote +1/−1 weighted by
    presence; fingerprint bit b = 1 iff the vote is positive.

    Like MinHash, SimHash is per-document state → pure projection: hash
    the token array once, then each bit's vote is 2·count(bit set) − n
    over the array. No explode, no shuffle (fan_out is a testdata-only
    split of the unsplittable single-row-group scan)."""
    hashed = fan_out(docs).select(
        "doc_id",
        F.transform(F.split(F.col("text"), " "), hash31).alias("hs"),
    )
    n = F.size(F.col("hs"))
    votes = [
        (
            F.lit(2)
            * F.size(
                F.filter(
                    F.col("hs"),
                    lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                )
            )
            - n
        ).alias(f"v_{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = hashed.select("doc_id", *votes)
    fingerprint = sum(
        F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return per_doc.select("doc_id", fingerprint.cast("long").alias("simhash"))


SIMHASH_WIDE_BITS = 48  # production-width fingerprint for the pairing tier
SIMHASH_N_BANDS = 6     # 6 bands × 8 bits; pigeonhole covers hamming ≤ 5


def simhash_wide(docs: DataFrame) -> DataFrame:
    """48-bit SimHash over 60-bit token hashes — the production-width
    fingerprint for near-dup PAIRING (the 16-bit simhash_fingerprints
    stays as the compact per-doc signature; 16 bits over-collides once
    the corpus outgrows ~2^8 docs). This wide tier keeps explode +
    partial-aggregated groupBy: at 48 bits the per-row array-HOF form
    re-walks the token array 48×, measurably slower than one pass with
    48 map-side sum counters."""
    tok = fan_out(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).select("doc_id", hash60(F.col("token")).alias("h"))
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v_{b}")
        for b in range(SIMHASH_WIDE_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    fingerprint = sum(
        F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_WIDE_BITS)
    )
    return per_doc.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 5) -> DataFrame:
    """SimHash near-dup candidate pairs: band the 48-bit fingerprint into
    6 bytes — by pigeonhole, any pair within Hamming distance 5 shares at
    least one intact byte band — bucket-join on (band, byte), then verify
    bit_count(xor) ≤ max_hamming. Same single-shuffle LSH shape as the
    MinHash tier; band keys are hash-derived ⇒ uniform, no skew."""
    # one explode instead of an N-way union of selects: the union form
    # re-evaluated the whole shingle→48-bit-simhash pipeline once per
    # band per join side (~12×); the fingerprint table is also tiny
    # (doc_id + int64), so materialize it once for the self-join
    fp = simhash_wide(docs).localCheckpoint(eager=True)  # GC-scoped (r8)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_N_BANDS - 1))).alias("band"),
    ).withColumn("bkey", F.expr("shiftright(simhash, band * 8) & 255"))
    a, bb = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


NGRAM_DF_MAX = 256  # stop-shingle document-frequency cap


def ngram_jaccard_pairs(
    docs: DataFrame, probe_modulus: int = 53, df_max: int = NGRAM_DF_MAX
) -> DataFrame:
    """Exact n-gram Jaccard similarity of probe docs (doc_id ≡ 0 mod m)
    against all docs — the verification tier for LSH candidates.
    Intersection via equi-join on distinct shingle hashes.

    Stop-shingle cap: shingles present in more than `df_max` distinct
    documents are dropped from the universe BEFORE the probe join (and
    before the per-doc sizes, so jaccard stays a consistent measure over
    the filtered universe). Without it one boilerplate shingle shared by
    K docs emits K pairs per probe occurrence — a skewed-key shuffle
    that melts a stage at corpus scale; with it per-shingle fan-out is
    bounded by df_max and the similarity signal sharpens (ubiquitous
    shingles carry no discriminative information)."""
    sh = _shingle_frame(docs).distinct()
    rare = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_max)
        .select("h")
    )
    sh = sh.join(rare, "h")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    probes = sh.filter(F.col("doc_id") % probe_modulus == 0)
    probe_sizes = sizes.filter(F.col("doc_id") % probe_modulus == 0)
    inter = (
        probes.alias("p")
        .join(sh.alias("d"), (F.col("p.h") == F.col("d.h")) & (F.col("p.doc_id") < F.col("d.doc_id")))
        .groupBy(F.col("p.doc_id").alias("doc_a"), F.col("d.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(probe_sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .filter(F.col("n_common") * 50 >= F.col("na") + F.col("nb") - F.col("n_common"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("na") + F.col("nb") - F.col("n_common")).alias("n_union"),
            (F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracle SQL mirrors
# --------------------------------------------------------------------------

_SHINGLE_CTE = f"""
  shingles AS (
    SELECT doc_id, {hash31_sql('sh')} AS h
    FROM (
      SELECT doc_id, unnest({WORD_3GRAM_SQL}) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 3)
    )
  )
"""

EXACT_DEDUP_SQL = """
  SELECT md5(text) AS content_digest,
         MIN(doc_id) AS canonical_doc_id,
         COUNT(*) AS n_copies
  FROM documents GROUP BY md5(text) ORDER BY canonical_doc_id
"""


def _sig_select() -> str:
    cols = ", ".join(
        f"MIN(({a} * h + {b}) % {HASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    return f"SELECT doc_id, {cols} FROM shingles GROUP BY doc_id"


MINHASH_SIG_SQL = f"WITH {_SHINGLE_CTE} {_sig_select()} ORDER BY doc_id"

_BAND_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {band} AS band, concat_ws('_', sig_{2*band}, sig_{2*band+1}) AS band_key, "
    + ", ".join(f"sig_{k}" for k in range(len(MINHASH_A)))
    + " FROM sigs"
    for band in range(N_BANDS)
)

_SIG_MATCH = " + ".join(
    f"CAST(a.sig_{k} = b.sig_{k} AS INT)" for k in range(len(MINHASH_A))
)

MINHASH_LSH_SQL = f"""
  WITH {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_SIG_MATCH} AS n_sig_match
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  )
  SELECT doc_a, doc_b, n_sig_match,
         n_sig_match / {len(MINHASH_A)} AS est_jaccard
  FROM pairs ORDER BY doc_a, doc_b
"""

NEAR_DUP_CLUSTERS_SQL = f"""
  WITH RECURSIVE {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
  ),
  reach(doc, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT rr.doc, e.d FROM reach rr JOIN edges e ON e.s = rr.r
  ),
  cc AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc)
  SELECT c.doc_id, c.cluster_id,
         s.cluster_size,
         CAST(c.doc_id = c.cluster_id AS INT) AS is_canonical
  FROM cc c
  JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id) s
    USING (cluster_id)
  ORDER BY c.doc_id
"""

_VOTES = ", ".join(
    f"SUM(((h >> {b}) & 1) * 2 - 1) AS v_{b}" for b in range(SIMHASH_BITS)
)
_FPRINT = " + ".join(
    f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS)
)

SIMHASH_SQL = f"""
  WITH tok AS (
    SELECT doc_id, {hash31_sql('t')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  ),
  votes AS (SELECT doc_id, {_VOTES} FROM tok GROUP BY doc_id)
  SELECT doc_id, CAST({_FPRINT} AS BIGINT) AS simhash
  FROM votes ORDER BY doc_id
"""

_WIDE_VOTES = ", ".join(
    f"SUM(((h >> {b}) & 1) * 2 - 1) AS v_{b}" for b in range(SIMHASH_WIDE_BITS)
)
_WIDE_FPRINT = " + ".join(
    f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH_WIDE_BITS)
)

SIMHASH_PAIRS_SQL = f"""
  WITH tok AS (
    SELECT doc_id, {hash60_sql('t')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  ),
  votes AS (SELECT doc_id, {_WIDE_VOTES} FROM tok GROUP BY doc_id),
  fp AS (SELECT doc_id, CAST({_WIDE_FPRINT} AS BIGINT) AS simhash FROM votes),
  banded AS (
    SELECT doc_id, simhash, b.range AS band,
           (simhash >> (8 * b.range)) & 255 AS bkey
    FROM fp, range({SIMHASH_N_BANDS}) b
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sa, b.simhash AS sb
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  )
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
  FROM pairs WHERE bit_count(xor(sa, sb)) <= 5
  ORDER BY doc_a, doc_b
"""


NGRAM_JACCARD_SQL = f"""
  WITH {_SHINGLE_CTE},
  dsh0 AS (SELECT DISTINCT doc_id, h FROM shingles),
  rare AS (SELECT h FROM dsh0 GROUP BY h HAVING COUNT(*) <= {NGRAM_DF_MAX}),
  dsh AS (SELECT dsh0.doc_id, dsh0.h FROM dsh0 JOIN rare ON dsh0.h = rare.h),
  sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM dsh GROUP BY doc_id),
  inter AS (
    SELECT p.doc_id AS doc_a, d.doc_id AS doc_b, COUNT(*) AS n_common
    FROM dsh p JOIN dsh d ON p.h = d.h AND p.doc_id < d.doc_id
    WHERE p.doc_id % 53 = 0
    GROUP BY p.doc_id, d.doc_id
  )
  SELECT doc_a, doc_b, n_common,
         (na.n_shingles + nb.n_shingles - n_common) AS n_union,
         n_common / (na.n_shingles + nb.n_shingles - n_common) AS jaccard
  FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE n_common * 50 >= na.n_shingles + nb.n_shingles - n_common
  ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# LSH candidate-quality evaluation: precision/recall vs exact Jaccard truth
# --------------------------------------------------------------------------

PR_JACCARD_NUM = 1  # truth threshold: jaccard >= 1/2
PR_JACCARD_DEN = 2


def lsh_precision_recall(docs: DataFrame) -> DataFrame:
    """Candidate-quality report for the MinHash-LSH tier: precision and
    recall of the banded candidate pairs against exact ground truth
    (all pairs with shingle-set Jaccard >= 0.5).

    This closes the dedup ladder's eval loop the same way
    ann_lsh_recall_eval / ann_ivf_recall_eval close the ANN ladder's —
    the number a pipeline operator actually tunes bands/rows against.

    The truth tier joins distinct shingles against themselves (pair
    cardinality bounded by shingle co-occurrence — docs sharing no
    shingle never pair). At 100 TB the truth tier runs on a sampled
    stratum (it is an EVAL, not a production path); candidates reuse
    the production LSH plan unchanged. Output is one row of exact
    integer counts + two 9-dp ratios (guarded against empty sets with
    greatest(n, 1) on both engines).
    """
    sh = _shingle_frame(docs).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.alias("p")
        .join(
            sh.alias("d"),
            (F.col("p.h") == F.col("d.h")) & (F.col("p.doc_id") < F.col("d.doc_id")),
        )
        .groupBy(F.col("p.doc_id").alias("doc_a"), F.col("d.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb")),
            "doc_b",
        )
        .filter(
            F.col("n_common") * PR_JACCARD_DEN
            >= (F.col("na") + F.col("nb") - F.col("n_common")) * PR_JACCARD_NUM
        )
        .select("doc_a", "doc_b")
    )
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    hits = cand.join(truth, ["doc_a", "doc_b"]).select("doc_a", "doc_b")
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        n_cand.crossJoin(n_truth)
        .crossJoin(n_hits)
        .select(
            "n_candidates",
            "n_truth",
            "n_hits",
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_candidates"), F.lit(1)), 9
            ).alias("precision"),
            F.round(
                F.col("n_hits") / F.greatest(F.col("n_truth"), F.lit(1)), 9
            ).alias("recall"),
        )
    )


LSH_PR_SQL = f"""
  WITH {_SHINGLE_CTE},
  dsh AS (SELECT DISTINCT doc_id, h FROM shingles),
  sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM dsh GROUP BY doc_id),
  inter AS (
    SELECT p.doc_id AS doc_a, d.doc_id AS doc_b, COUNT(*) AS n_common
    FROM dsh p JOIN dsh d ON p.h = d.h AND p.doc_id < d.doc_id
    GROUP BY p.doc_id, d.doc_id
  ),
  truth AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes na ON na.doc_id = doc_a
    JOIN sizes nb ON nb.doc_id = doc_b
    WHERE n_common * {PR_JACCARD_DEN}
          >= (na.n_shingles + nb.n_shingles - n_common) * {PR_JACCARD_NUM}
  ),
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  hits AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM truth),
  counts AS (
    SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hits) AS n_hits
  )
  SELECT n_candidates, n_truth, n_hits,
         round(n_hits / CAST(greatest(n_candidates, 1) AS DOUBLE), 9) AS precision,
         round(n_hits / CAST(greatest(n_truth, 1) AS DOUBLE), 9) AS recall
  FROM counts
"""


# --------------------------------------------------------------------------
# Horizon-bounded LSH candidates (batch surface of the streaming gate)
# --------------------------------------------------------------------------

INGEST_HORIZON_DOCS = 60  # ingest-order horizon (docs arrive 1/minute)


def lsh_candidates_horizon(docs: DataFrame) -> DataFrame:
    """Near-dup candidate pairs restricted to documents ingested within
    the dedup horizon of each other, with ingest order derived from
    doc_id (the synthetic corpus ingests one doc per minute, so a 1-hour
    horizon is |doc_a − doc_b| ≤ 60).

    Plan: the shared _pairs_from_banded candidate join with the horizon
    predicate (Catalyst folds the filter into the join condition) — at
    scale the horizon bounds the candidate set."""
    return _pairs_from_banded(lsh_banded(docs), with_sig_match=False).filter(
        F.col("doc_b") - F.col("doc_a") <= INGEST_HORIZON_DOCS
    )


LSH_HORIZON_SQL = f"""
  WITH {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION})
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
   AND b.doc_id - a.doc_id <= {INGEST_HORIZON_DOCS}
  ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# PageRank over the near-dup candidate graph (integer-exact iterations)
# --------------------------------------------------------------------------

PR_ITERS = 3
PR_SCALE = 1_000_000_000  # rank fixed-point grid (1e-9)
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact rational


def pagerank_lsh_graph(docs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """PageRank over the undirected LSH candidate graph — duplicate-hub
    scoring: documents whose content recurs across many near-dup
    partners rank high (a copy-count-robust signal for choosing cluster
    canonicals and for boilerplate triage), dangling docs keep the base
    rank.

    Entirely INTEGER arithmetic: ranks live on a 1e-9 fixed-point grid,
    each edge contribution is (r·85) DIV (100·outdeg) (integer division,
    deterministic mass loss identical in both engines), the per-node sum
    is an exact BIGINT — every iteration is bit-reproducible under any
    partitioning, so the unrolled-CTE oracle matches exactly.

    Plan shape per iteration: one edge-cardinality join + one node-
    cardinality aggregate (the standard Spark PageRank shape). The edge
    list (with out-degrees) is materialized ONCE via _cut_lineage —
    without it each round's plan re-embeds the whole LSH candidate
    pipeline (audited: 25 exchanges / 8 SMJs / 28 scans at 3 rounds vs
    a constant-size per-round plan after the cut); the rank lineage
    itself grows linearly (r enters each round once), which a fixed
    iters keeps bounded."""
    nodes = docs.select("doc_id")
    pairs = _pairs_from_banded(lsh_banded(docs), with_sig_match=False)
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    outdeg = edges.groupBy("doc_a").agg(F.count(F.lit(1)).alias("outdeg"))
    # out-degree folded into the edge list once — the loop then joins one
    # frame per round instead of two
    edges = _cut_lineage(edges.join(outdeg, "doc_a"))
    n_docs = nodes.count()
    if n_docs == 0:
        return local_frame(
            docs.sparkSession, [], "doc_id long, pagerank_q long"
        )
    base_q = (PR_SCALE * (PR_D_DEN - PR_D_NUM)) // (PR_D_DEN * n_docs)
    # cast to long: an int32 initial rank overflows at r_q * 85 for
    # corpora under ~40 docs (the oracle's r0 is BIGINT)
    r = nodes.select(
        "doc_id", F.lit(PR_SCALE // n_docs).cast("long").alias("r_q")
    )
    for _ in range(iters):
        contrib = (
            edges.join(r, edges.doc_a == r.doc_id)
            .select(
                F.col("doc_b").alias("dst"),
                F.expr(f"(r_q * {PR_D_NUM}) DIV ({PR_D_DEN} * outdeg)").alias("c_q"),
            )
            .groupBy("dst")
            .agg(F.sum("c_q").alias("in_q"))
        )
        r = nodes.join(contrib, nodes.doc_id == contrib.dst, "left").select(
            "doc_id",
            (F.lit(base_q) + F.coalesce(F.col("in_q"), F.lit(0))).alias("r_q"),
        )
    return r.select("doc_id", F.col("r_q").alias("pagerank_q"))


def PAGERANK_SQL(iters: int = PR_ITERS) -> str:
    ctes = [
        f"""nodes AS (SELECT doc_id FROM documents),
      {_SHINGLE_CTE},
      sigs AS ({_sig_select()}),
      banded AS ({_BAND_UNION}),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
      ),
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      ),
      outdeg AS (SELECT doc_a, COUNT(*) AS outdeg FROM edges GROUP BY doc_a),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (
        SELECT doc_id, CAST({PR_SCALE} // n AS BIGINT) AS r_q FROM nodes, nn
      )"""
    ]
    for i in range(iters):
        ctes.append(
            f"""c{i} AS (
        SELECT e.doc_b AS dst,
               CAST(SUM((r.r_q * {PR_D_NUM}) // ({PR_D_DEN} * o.outdeg))
                    AS BIGINT) AS in_q
        FROM edges e
        JOIN outdeg o ON o.doc_a = e.doc_a
        JOIN r{i} r ON r.doc_id = e.doc_a
        GROUP BY e.doc_b
      ),
      r{i + 1} AS (
        SELECT n.doc_id,
               CAST((CAST({PR_SCALE} AS BIGINT) * {PR_D_DEN - PR_D_NUM})
                    // ({PR_D_DEN} * (SELECT n FROM nn))
                    + COALESCE(c.in_q, 0) AS BIGINT) AS r_q
        FROM nodes n LEFT JOIN c{i} c ON c.dst = n.doc_id
      )"""
        )
    body = ",\n      ".join(ctes)
    return f"""
      WITH {body}
      SELECT doc_id, r_q AS pagerank_q FROM r{iters} ORDER BY doc_id
    """


CONTAINMENT_TAU = 0.5


def containment_dup_pairs(docs: DataFrame, tau: float = CONTAINMENT_TAU) -> DataFrame:
    """ASYMMETRIC containment dedup (Broder's containment, the signal
    Jaccard dilutes): for LSH candidate pairs, exact
    |sh(a) ∩ sh(b)| / |sh(side)| in BOTH directions — a short doc fully
    quoted inside a long one has high containment but low Jaccard, so
    the symmetric tiers miss it. Candidates come from the SAME banded
    LSH join as every other pair tier (_pairs_from_banded — one
    candidate-generation definition repo-wide); the exact check joins
    each candidate pair to the two docs' distinct-shingle sets
    co-keyed on (doc, shingle) — pair-bounded work, never corpus².

    Output: (doc_a, doc_b, n_common, contain_a_in_b, contain_b_in_a)
    for pairs where max(containment) ≥ τ, ratios round-6 on exact
    integer counts."""
    banded = lsh_banded(docs).select("doc_id", "band", "band_key")
    pairs = _pairs_from_banded(banded, with_sig_match=False)
    sh = (
        fan_out(docs).filter(F.size(F.split(F.col("text"), " ")) >= 3)
        .select(
            "doc_id",
            F.explode(word_3gram_shingles("text")).alias("sh"),
        )
        .select("doc_id", hash31(F.col("sh")).alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = _pair_intersections(pairs, sh, out_col="n_common")
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a", "doc_b", "n_common",
            F.round(F.col("n_common") / F.col("n_b"), 6).alias("contain_a_in_b"),
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("contain_b_in_a"),
        )
    )
    return out.filter(
        F.greatest("contain_a_in_b", "contain_b_in_a") >= tau
    )


CONTAINMENT_SQL = f"""
  WITH {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  dsh AS (SELECT DISTINCT doc_id, h FROM shingles),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
    FROM pairs p
    JOIN dsh sa ON sa.doc_id = p.doc_a
    JOIN dsh sb ON sb.doc_id = p.doc_b AND sb.h = sa.h
    GROUP BY p.doc_a, p.doc_b
  )
  SELECT i.doc_a, i.doc_b, i.n_common,
         round(i.n_common / CAST(zb.n_sh AS DOUBLE), 6) AS contain_a_in_b,
         round(i.n_common / CAST(za.n_sh AS DOUBLE), 6) AS contain_b_in_a
  FROM inter i
  JOIN sizes za ON za.doc_id = i.doc_a
  JOIN sizes zb ON zb.doc_id = i.doc_b
  WHERE GREATEST(round(i.n_common / CAST(zb.n_sh AS DOUBLE), 6),
                 round(i.n_common / CAST(za.n_sh AS DOUBLE), 6))
        >= {CONTAINMENT_TAU!r}
  ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# Prefix-filter exact-Jaccard self-join (ppjoin-style candidate pruning)
# --------------------------------------------------------------------------

PREFIX_JACCARD_TAU_NUM = 1  # jaccard threshold as an exact rational 1/2
PREFIX_JACCARD_TAU_DEN = 2

# Core/rare document-frequency split (r12): tokens with df <= this are
# "rare" — their pair mass Σ C(df,2) <= (D-1)/2 · postings is linear in
# corpus size — while df > D tokens form the duplication-stable "core".
# A PERFORMANCE dial only: the decomposition is exact for any D >= 1.
PREFIX_RARE_DF_MAX = 16

# Broadcast-verify gate: the per-doc ordered-token table is broadcast to
# the verify stage only while its estimated size (n_docs × (8·avg_set +
# ~32B row overhead)) stays under this bound; past it the same two-level
# decomposition runs at shuffle grain. 2 GiB ≈ 15M docs at the corpus'
# ~130-shingle sets — far beyond any single broadcast a 100 TB job
# should attempt.
PREFIX_BROADCAST_MAX_BYTES = 2 << 30


def prefix_filter_jaccard_join(
    docs: DataFrame, broadcast_max_bytes: int = PREFIX_BROADCAST_MAX_BYTES
) -> DataFrame:
    """Exact Jaccard ≥ 1/2 self-join via prefix filtering — the
    non-probabilistic alternative to MinHash-LSH (AllPairs/PPJoin family;
    no reference counterpart — LLM-pipeline dedup tier). Two sets with
    jaccard ≥ τ must share a token inside both (s − ⌈τ·s⌉ + 1)-length
    rarest-first prefixes, so keying candidates on prefix tokens loses no
    qualifying pair.

    r12 rebuild — the pre-r12 join-then-groupBy form died at sf10 (100×,
    50% duplication density, short docs over a dense vocabulary): every
    qualifying pair re-materialized once per shared prefix token into a
    ~60 GB aggregation exchange, and the verify join carried per-doc
    token arrays at 33M-pair grain. Measured structure at sf10: 4.8G
    candidate pair×token rows for 27.3M true pairs — disk-quadratic in
    duplication density. The rebuilt plan is an exact TWO-LEVEL
    decomposition with NO completeness downgrade and NO pair-grain array
    shuffle; it splits every doc's shingle set by global document
    frequency at D = PREFIX_RARE_DF_MAX:

      core(x)  = tokens with df > D     (duplication-stable: near-copies
                                         of a doc share it verbatim — a
                                         perturbation token is by nature
                                         low-df)
      rare(x)  = tokens with 2 ≤ df ≤ D (pair mass Σ C(df,2) ≤
                                         (D−1)/2 · postings — LINEAR in
                                         corpus size by construction)
      df = 1 tokens can be shared by nobody and drop out entirely.

    Every shared token is in exactly one class, so
      inter(a, b) = |core_A ∩ core_B| + δ(a, b),
    with CI = |core_A ∩ core_B| constant per (core-)GROUP pair and
    δ = the pair's shared rare-token count. Three bounded channels:

    1. **Core groups.** Docs group by their exact core array (array
       groupBy — no hash collisions); k near-copies collapse to ONE
       group. At sf10 this takes candidate enumeration from 500k docs to
       ~5k groups.
    2. **Core-overlap channel.** Group pairs with 3·CI ≥ c_A + c_B are
       found by the classic prefix join ON THE CORES at GROUP grain
       (the τ = 1/2 prefix theorem applied to core sets; a qualifying
       member pair needs 3·CI ≥ sa + sb ≥ c_A + c_B, so no group pair
       is missed), deduped inline by the first-shared-token rule. Member
       expansion emits FINAL pairs directly for δ = 0: inter = CI —
       there is no verify stage at all.
    3. **Rare channel.** Doc pairs sharing any rare token come from the
       bounded rare-posting self-join; δ = COUNT per pair, CI computed
       per pair from the two broadcast core arrays, inter = CI + δ.
       Channel 2 anti-joins these keys so each pair is emitted once.

    Threshold compare stays integer-exact: jac ≥ 1/2 ⇔ 3·inter ≥ sa+sb.

    Beyond `broadcast_max_bytes` (estimated core-table bytes via one
    cheap agg on the checkpointed frame) the SAME two-level
    decomposition runs at SHUFFLE grain (r13, closes the r12 verdict's
    "fallback re-inherits the disk quadratic"): the rare channel
    sort-merge-joins `sets` instead of broadcasting it, the group
    channel dedupes candidates to (ga, gb) grain with a groupBy BEFORE
    attaching the core/member arrays (so arrays never ride the
    candidate×token exchange), and the channel-2 anti-join runs as a
    shuffle anti-join. Every exchange stays linear-or-candidate
    bounded — the completeness argument above is path-independent, and
    the two paths (broadcast two-level, shuffle two-level) are
    result-identical (tests/test_round12_fixes.py,
    tests/test_round13_fixes.py)."""
    sh = _shingle_frame(fan_out(docs)).distinct().localCheckpoint(eager=True)  # GC-scoped (r8)
    df_ = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    D = PREFIX_RARE_DF_MAX
    TAU_N, TAU_D = PREFIX_JACCARD_TAU_NUM, PREFIX_JACCARD_TAU_DEN
    TAU_SUM = TAU_N + TAU_D
    shdf = sh.join(df_, "h").localCheckpoint(eager=True)
    # per-doc core array (global (df, h) order) + full set size
    sets = (
        shdf.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("s"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("df") > D, F.struct("df", "h"))
                )
            ).alias("core_toks"),
        )
        .select(
            "doc_id",
            "s",
            F.expr("transform(core_toks, t -> t.h)").alias("core"),
        )
        .localCheckpoint(eager=True)  # GC-scoped, not CacheManager-pinned (r8)
    )
    est = sets.agg(
        (F.sum(F.size("core")) * F.lit(8) + F.count(F.lit(1)) * F.lit(48))
        .alias("b")
    ).collect()[0]["b"]
    # past the gate the identical decomposition runs at shuffle grain
    use_broadcast = est is None or est <= broadcast_max_bytes
    # ---- channel 3 first (its keys gate channel 2's emission) --------
    low = shdf.filter((F.col("df") >= 2) & (F.col("df") <= D)).select(
        "doc_id", "h"
    )
    delta = (
        low.alias("a")
        .join(
            low.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("delta"))
        .localCheckpoint(eager=True)  # consumed twice (emit + anti-join)
    )
    # r12 ADVICE (medium): the rare-pair key frame used for the channel-2
    # anti-join is bounded by (D-1)/2 x rare postings, which a rare-token
    # dense corpus can push far past the core table the main gate sized.
    # Gate its broadcast on the EXACT row count (free: the frame is
    # checkpointed) — past the bound the anti-join runs as a shuffle
    # anti-join, which is result-identical and never lands on the driver.
    anti_keys = delta.select("doc_a", "doc_b")
    if use_broadcast and delta.count() * 48 <= broadcast_max_bytes:
        anti_keys = F.broadcast(anti_keys)
    # shuffle grain: the rare channel's set-attach joins sort-merge on
    # doc_id (both sides linear); delta carries no arrays either way
    sets_b = F.broadcast(sets) if use_broadcast else sets
    rare_pairs = (
        delta.join(
            sets_b.select(F.col("doc_id").alias("doc_a"),
                          F.col("core").alias("core_a"),
                          F.col("s").alias("sa")), "doc_a")
        .join(
            sets_b.select(F.col("doc_id").alias("doc_b"),
                          F.col("core").alias("core_b"),
                          F.col("s").alias("sb")), "doc_b")
        .select(
            "doc_a", "doc_b", "sa", "sb",
            (F.size(F.array_intersect("core_a", "core_b")).cast("long")
             + F.col("delta")).alias("inter"),
        )
    )
    # ---- channel 1: exact-core groups --------------------------------
    groups = (
        sets.groupBy("core")
        .agg(F.collect_list(F.struct("doc_id", "s")).alias("members"))
        .withColumn("c", F.size("core"))
        .withColumn("gid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)  # freeze gids; consumed 3x
    )
    # ---- channel 2: prefix join ON THE CORES at group grain ----------
    gpost = groups.filter(F.col("c") > 0).select(
        "gid",
        "c",
        F.explode(
            F.expr("slice(core, 1, CAST(c - ((c + 1) DIV 2) + 1 AS INT))")
        ).alias("h"),
    )
    gm = groups.select("gid", "core", "members")
    gmeta = F.broadcast(gm) if use_broadcast else gm
    gcand = (
        gpost.alias("a")
        .join(
            gpost.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"),
                F.col("a.h").alias("h"),
                F.col("a.c").alias("ca"), F.col("b.c").alias("cb"))
    )
    if use_broadcast:
        # emit-once at token grain (first shared core-prefix token —
        # the rarest shared token sorts into both prefixes whenever any
        # shared prefix token exists, so exactly one row survives);
        # valid to defer past the broadcast joins because they add no
        # exchange
        emit_once = F.element_at("shared", 1) == F.col("h")
    else:
        # shuffle grain: dedupe to (ga, gb) BEFORE attaching the
        # core/member arrays — the candidate×token exchange carries
        # five scalars only and the arrays join at candidate-pair grain
        gcand = gcand.groupBy("ga", "gb").agg(
            # ca/cb are functionally dependent on ga/gb — min is just
            # the deterministic way to carry them through the groupBy
            F.min("ca").alias("ca"), F.min("cb").alias("cb")
        )
        emit_once = F.lit(True)
    gpair = (
        gcand
        .join(gmeta.select(F.col("gid").alias("ga"),
                           F.col("core").alias("core_a"),
                           F.col("members").alias("mem_a")), "ga")
        .join(gmeta.select(F.col("gid").alias("gb"),
                           F.col("core").alias("core_b"),
                           F.col("members").alias("mem_b")), "gb")
        .withColumn("shared", F.array_intersect("core_a", "core_b"))
        .filter(
            # emit-once + the group-level necessary condition
            # 3*CI >= cA + cB
            emit_once
            & (F.size("shared") * TAU_SUM
               >= (F.col("ca") + F.col("cb")) * TAU_N)
        )
        .select(F.size("shared").cast("long").alias("ci"), "mem_a", "mem_b")
    )
    cross = (
        gpair.select("ci", F.explode("mem_a").alias("a"), "mem_b")
        .select("ci", "a", F.explode("mem_b").alias("b"))
    )
    within = (
        groups.filter((F.col("c") > 0) & (F.size("members") > 1))
        .select(F.col("c").cast("long").alias("ci"),
                F.posexplode("members").alias("i", "a"), "members")
        .select("ci", "a", F.posexplode("members").alias("j", "b"), "i")
        .filter(F.col("i") < F.col("j"))
        .select("ci", "a", "b")
    )
    core_pairs = (
        cross.unionByName(within)
        .select(
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.doc_id"))
            .otherwise(F.col("b.doc_id")).alias("doc_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.doc_id"))
            .otherwise(F.col("a.doc_id")).alias("doc_b"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
            F.col("ci").alias("inter"),
        )
        # delta = 0 for these pairs (enforced by the anti-join below),
        # so inter = CI exactly and the final filter is exact
        .join(anti_keys, ["doc_a", "doc_b"], "left_anti")
    )
    return (
        core_pairs.unionByName(rare_pairs.select(
            "doc_a", "doc_b", "sa", "sb", "inter"))
        .filter(
            F.col("inter") * TAU_SUM >= (F.col("sa") + F.col("sb")) * TAU_N
        )
        .select(
            "doc_a", "doc_b", "inter",
            F.round(
                F.col("inter")
                / (F.col("sa") + F.col("sb") - F.col("inter")).cast("double"),
                9,
            ).alias("jaccard"),
        )
    )


PREFIX_JACCARD_SQL = f"""
  WITH {_SHINGLE_CTE},
  dsh AS (SELECT DISTINCT doc_id, h FROM shingles),
  dfreq AS (SELECT h, COUNT(*) AS df FROM dsh GROUP BY h),
  ranked AS (
    SELECT d.doc_id, d.h,
           row_number() OVER (PARTITION BY d.doc_id ORDER BY f.df, d.h) AS pos,
           COUNT(*) OVER (PARTITION BY d.doc_id) AS s
    FROM dsh d JOIN dfreq f ON f.h = d.h
  ),
  prefix AS (
    SELECT doc_id, h, s, pos FROM ranked WHERE pos <= s - ((s + 1) // 2) + 1
  ),
  cand AS (
    -- PPJoin length + positional filters (lossless: drop only pairs below tau)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS sa, b.s AS sb
    FROM prefix a JOIN prefix b
      ON a.h = b.h AND a.doc_id < b.doc_id
     AND LEAST(a.s, b.s) * {PREFIX_JACCARD_TAU_DEN}
         >= GREATEST(a.s, b.s) * {PREFIX_JACCARD_TAU_NUM}
    GROUP BY a.doc_id, b.doc_id, a.s, b.s
    HAVING (COUNT(*) + LEAST(a.s - MAX(a.pos), b.s - MAX(b.pos)))
           * {PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM}
           >= (a.s + b.s) * {PREFIX_JACCARD_TAU_NUM}
  ),
  inter AS (
    SELECT c.doc_a, c.doc_b, c.sa, c.sb, COUNT(*) AS inter
    FROM cand c
    JOIN dsh ta ON ta.doc_id = c.doc_a
    JOIN dsh tb ON tb.doc_id = c.doc_b AND tb.h = ta.h
    GROUP BY c.doc_a, c.doc_b, c.sa, c.sb
  )
  SELECT doc_a, doc_b, inter,
         round(inter / CAST(sa + sb - inter AS DOUBLE), 9) AS jaccard
  FROM inter
  WHERE inter * {PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM}
        >= (sa + sb) * {PREFIX_JACCARD_TAU_NUM}
  ORDER BY doc_a, doc_b
"""


# --------------------------------------------------------------------------
# LSH band/bucket skew diagnostics + dedup storage-savings report
# --------------------------------------------------------------------------


def lsh_band_bucket_stats(docs: DataFrame) -> DataFrame:
    """Per-band bucket-population report over the MinHash LSH banding:
    bucket count, largest bucket, candidate-pair mass Σ k·(k−1)/2, and
    colliding-bucket count. This is the skew monitor for the LSH tier —
    at corpus scale a single hot bucket is the difference between a
    balanced self-join and one straggler task owning k² pair work."""
    buckets = lsh_banded(docs).groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("k").alias("max_bucket"),
            F.sum(F.expr("(k * (k - 1)) DIV 2")).alias("candidate_pairs"),
            F.sum(F.when(F.col("k") > 1, 1).otherwise(0)).alias(
                "colliding_buckets"
            ),
        )
        .orderBy("band")
    )


LSH_BAND_STATS_SQL = f"""
  WITH {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  buckets AS (
    SELECT band, band_key, COUNT(*) AS k FROM banded GROUP BY band, band_key
  )
  SELECT band, COUNT(*) AS n_buckets, MAX(k) AS max_bucket,
         CAST(SUM((k * (k - 1)) // 2) AS BIGINT) AS candidate_pairs,
         CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS colliding_buckets
  FROM buckets GROUP BY band ORDER BY band
"""


def dedup_storage_savings(docs: DataFrame) -> DataFrame:
    """Per-source storage ledger for exact dedup: how many documents and
    characters disappear if only the canonical (min doc_id) copy of each
    distinct text survives. The per-group rank is a window over the
    digest hash partition — one shuffle at document cardinality, and the
    md5 keys are uniform so the window partitions cannot skew."""
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.md5(F.col("text")).alias("dig")
    ).withColumn(
        "rk", F.row_number().over(W.partitionBy("dig").orderBy("doc_id"))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rk") > 1, 1).otherwise(0)).alias("n_removed"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0)).alias(
                "chars_saved"
            ),
        )
        .select(
            "source", "n_docs", "n_removed", "chars_total", "chars_saved",
            F.round(
                F.col("chars_saved") / F.col("chars_total").cast("double"), 9
            ).alias("savings_frac"),
        )
        .orderBy("source")
    )


DEDUP_SAVINGS_SQL = """
  WITH ranked AS (
    SELECT source, doc_id, n_chars,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
    FROM documents
  )
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(SUM(n_chars) AS BIGINT) AS chars_total,
         CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_saved,
         round(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END)
               / CAST(SUM(n_chars) AS DOUBLE), 9) AS savings_frac
  FROM ranked GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# Dedup-ladder distribution diagnostics
# --------------------------------------------------------------------------


def simhash_hamming_histogram(docs: DataFrame) -> DataFrame:
    """Distribution of Hamming distances over ALL band-colliding SimHash
    candidate pairs (threshold lifted to the full 48 bits) — the tuning
    report for max_hamming: where does the real pair mass sit relative
    to the cutoff."""
    pairs = simhash_near_dup_pairs(docs, max_hamming=SIMHASH_WIDE_BITS)
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


SIMHASH_HAMMING_HIST_SQL = f"""
  WITH tok AS (
    SELECT doc_id, {hash60_sql('t')} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  ),
  votes AS (SELECT doc_id, {_WIDE_VOTES} FROM tok GROUP BY doc_id),
  fp AS (SELECT doc_id, CAST({_WIDE_FPRINT} AS BIGINT) AS simhash FROM votes),
  banded AS (
    SELECT doc_id, simhash, b.range AS band,
           (simhash >> (8 * b.range)) & 255 AS bkey
    FROM fp, range({SIMHASH_N_BANDS}) b
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sa, b.simhash AS sb
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  )
  SELECT CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
         COUNT(*) AS n_pairs
  FROM pairs GROUP BY 1 ORDER BY hamming
"""


def dup_cluster_size_histogram(docs: DataFrame) -> DataFrame:
    """Cluster-size distribution of the LSH near-dup connected
    components: how many clusters (and docs) exist at each size — the
    shape report that decides whether dedup should keep-one-per-cluster
    or review giant components (a size-10⁶ cluster usually means
    boilerplate, not duplication)."""
    cc = near_dup_clusters(docs)
    return (
        cc.groupBy("cluster_size")
        .agg(
            F.count_distinct("cluster_id").alias("n_clusters"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


DUP_CLUSTER_HIST_SQL = f"""
  WITH RECURSIVE {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
  ),
  reach(doc, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT rr.doc, e.d FROM reach rr JOIN edges e ON e.s = rr.r
  ),
  cc AS (SELECT doc AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc),
  sized AS (
    SELECT c.doc_id, c.cluster_id, s.cluster_size
    FROM cc c
    JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc
          GROUP BY cluster_id) s USING (cluster_id)
  )
  SELECT cluster_size, COUNT(DISTINCT cluster_id) AS n_clusters,
         COUNT(*) AS n_docs
  FROM sized GROUP BY cluster_size ORDER BY cluster_size
"""


def minhash_calibration_curve(docs: DataFrame) -> DataFrame:
    """MinHash estimator calibration: for each signature-match level
    (n_sig_match of 8), the mean EXACT shingle Jaccard of the LSH
    candidate pairs at that level — the 'can I trust est_jaccard' curve
    that decides whether the k=8 signature is wide enough for the
    corpus. Pairs come from the production LSH plan; exact Jaccard is
    the same intersection join the verification tier uses, quantized at
    1e6 per pair so the per-level mean is an exact integer reduction."""
    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b", "n_sig_match")
    # persist: the set frame feeds sizes + both verify sides (the same
    # three-consumer shape as prefix_filter_jaccard_join)
    sh = _shingle_frame(fan_out(docs)).distinct().localCheckpoint(eager=True)  # GC-scoped (r8)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = _pair_intersections(pairs, sh, carry=("n_sig_match",))
    jac_q = F.expr(
        "CAST(ROUND(inter / CAST(sa + sb - inter AS DOUBLE) * 1000000)"
        " AS BIGINT)"
    )
    per_pair = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb")),
            "doc_b",
        )
        .select("n_sig_match", jac_q.alias("jac_q"))
    )
    return (
        per_pair.groupBy("n_sig_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("jac_q") / F.lit(1000000.0) / F.count(F.lit(1)), 6).alias(
                "mean_exact_jaccard"
            ),
        )
        .orderBy("n_sig_match")
    )


MINHASH_CALIBRATION_SQL = f"""
  WITH {_SHINGLE_CTE},
  sigs AS ({_sig_select()}),
  banded AS ({_BAND_UNION}),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_SIG_MATCH} AS n_sig_match
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  ),
  dsh AS (SELECT DISTINCT doc_id, h FROM shingles),
  sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, p.n_sig_match, COUNT(*) AS inter
    FROM pairs p
    JOIN dsh ta ON ta.doc_id = p.doc_a
    JOIN dsh tb ON tb.doc_id = p.doc_b AND tb.h = ta.h
    GROUP BY p.doc_a, p.doc_b, p.n_sig_match
  ),
  per_pair AS (
    SELECT i.n_sig_match,
           CAST(ROUND(i.inter / CAST(za.n_sh + zb.n_sh - i.inter AS DOUBLE)
                      * 1000000) AS BIGINT) AS jac_q
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
  )
  SELECT n_sig_match, COUNT(*) AS n_pairs,
         round(CAST(SUM(jac_q) AS BIGINT) / 1000000.0 / COUNT(*), 6)
           AS mean_exact_jaccard
  FROM per_pair GROUP BY n_sig_match ORDER BY n_sig_match
"""


# --------------------------------------------------------------------------
# Incremental dedup against a persisted corpus index (the 100 TB ingest
# shape): the committed corpus's shingle index lives in the transactional
# snapshot sink; each new batch probes it with the prefix-filter candidate
# join, and the non-duplicate survivors are union-committed back.
# --------------------------------------------------------------------------

INGEST_MODULUS = 10  # doc_id % M == 0 → "new batch"; else committed corpus
INGEST_INDEX_FORMAT = 1


def _ingest_constants() -> str:
    return (
        f"tau={PREFIX_JACCARD_TAU_NUM}/{PREFIX_JACCARD_TAU_DEN};"
        f"ngram=3;modulus={INGEST_MODULUS}"
    )


def _rarest_first_sets(sh: DataFrame, df_: DataFrame) -> DataFrame:
    """(doc_id, ord_h, s): per-doc shingle array ordered by the GLOBAL
    (df, h) total order — the shared derivation of the prefix-filter
    tier (prefix_filter_jaccard_join). Tokens absent from `df_` order
    first (df = 0): any (df, h) assignment applied consistently on both
    join sides is a valid total order for the prefix/positional
    theorems, which is what lets an incremental batch rank its tokens
    by the COMMITTED df table without rescanning the corpus."""
    return (
        sh.join(df_, "h", "left")
        .select("doc_id", F.coalesce("df", F.lit(0)).alias("df"), "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("toks"))
        .select(
            "doc_id",
            F.expr("transform(toks, t -> t.h)").alias("ord_h"),
            F.size("toks").alias("s"),
        )
    )


def _prefix_explode(sets: DataFrame) -> DataFrame:
    """(doc_id, h, s, pos): the first s − ⌈τ·s⌉ + 1 rarest tokens of
    each set (τ = 1/2 → s − (s+1)÷2 + 1), 1-based position retained for
    the positional filter."""
    return sets.select(
        "doc_id",
        "s",
        F.posexplode(
            F.expr("slice(ord_h, 1, CAST(s - ((s + 1) DIV 2) + 1 AS INT))")
        ).alias("pos0", "h"),
    ).select("doc_id", "h", "s", (F.col("pos0") + 1).alias("pos"))


def incremental_dedup_ingest(spark, docs: DataFrame, root: str) -> DataFrame:
    """Incremental near-dup ingestion against a PERSISTED corpus index —
    the shape a 100 TB lake actually runs: the committed corpus's
    prefix-filter index (df ranks, rarest-first per-doc arrays, prefix
    rows) is built ONCE through the transactional snapshot sink; every
    new batch probes it (prefix candidates → positional filter → exact
    array_intersect verify, all lossless for jaccard ≥ τ) and the
    surviving non-duplicates are union-committed back (append), so the
    next batch deduplicates against them too. The probe's committed-side
    exclusion is ID-EXACT (anti-join on the in-flight batch's own ids,
    broadcast — the batch is bounded by definition), NOT the batch
    modulus: survivors appended by earlier batches remain visible to
    every later probe; only self-matches of the current batch are
    suppressed (r8 advice — the modulus filter silently hid all
    appended rows from all future probes).

    Report (one row per batch doc): is_dup vs the committed BASE corpus
    at exact jaccard ≥ 1/2, with the best base match among qualifying
    pairs (jaccard desc, doc asc). Sub-threshold matches are NULL by
    design — the pruning is only lossless at ≥ τ, so reporting a
    sub-τ "best" would depend on which candidates happened to survive.

    Scale shape: a probe touches ONLY index tables (df/prefix/sets
    snapshots) plus the batch — candidates join keys on the batch's
    rarest committed tokens (broadcast batch side, no corpus shuffle);
    the raw committed corpus is never rescanned. The df table is FROZEN
    at base-build time (appended docs rank by committed df — still one
    consistent global order); a periodic full rebuild refreshes ranks,
    the standard index-maintenance cadence. Warm calls (same source
    file-set, batch already ingested) skip every write.

    Cites: reference has no incremental tier (it is a batch library);
    this extends the PPJoin prefix discipline of
    prefix_filter_jaccard_join (operators/dedup.py:1013) to the
    snapshot sink's build-once/probe-many contract
    (operators/similarity.py:662 build_ivf_index)."""
    from codex_africanus_spark.operators.similarity import (
        _index_fresh_source,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap

    base_docs = docs.filter(F.col("doc_id") % INGEST_MODULUS != 0)
    batch_docs = docs.filter(F.col("doc_id") % INGEST_MODULUS == 0)
    source_fp = source_fingerprint(docs)
    consts = _ingest_constants()
    warm = _index_fresh_source(
        spark, root, INGEST_INDEX_FORMAT, consts, source_fp
    )
    if not warm:
        # cold: (re)build the base index. Tombstone meta FIRST so a crash
        # mid-rebuild reads as stale, not as fresh-over-mixed-files.
        _tombstone_index_meta(spark, root)
        sh_base = _shingle_frame(base_docs).distinct()
        df_ = sh_base.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        sets_base = _rarest_first_sets(sh_base, df_)
        snap.commit(df_, f"{root}/df", mode="overwrite")
        snap.commit(sets_base, f"{root}/sets", mode="overwrite")
        snap.commit(_prefix_explode(sets_base), f"{root}/prefix", mode="overwrite")

    report, sh_batch, batch_ranks = _probe_committed(spark, batch_docs, root)

    if not warm:
        # union-commit survivors (append): their sets/prefix rows rank by
        # the committed df, so future batches dedup against them under
        # the same global order. Meta lands LAST (build-crash ⇒ stale).
        survivors = report.filter(F.col("is_dup") == 0).select("doc_id")
        sh_new = sh_batch.join(F.broadcast(survivors), "doc_id")
        # survivor tokens ⊆ batch tokens, so the broadcast rank table is
        # reusable — again no shuffle of the corpus df table
        sets_new = _rarest_first_sets(sh_new, F.broadcast(batch_ranks))
        snap.commit(sets_new, f"{root}/sets", mode="append")
        snap.commit(_prefix_explode(sets_new), f"{root}/prefix", mode="append")
        n_docs = docs.count()
        _write_index_meta(
            spark, root,
            (INGEST_INDEX_FORMAT, n_docs, 0, consts),
            source_fp,
        )
    return report


def _probe_committed(spark, batch_docs: DataFrame, root: str):
    """ONE definition of the probe-only path (shared by the batch
    incremental_dedup_ingest and the streaming foreachBatch consumer —
    a pruning or ranking change here cannot desync the two): probe a
    bounded batch against the COMMITTED prefix-filter index. Touches
    index tables + the batch only; the raw corpus is never rescanned.
    Returns (report, sh_batch, batch_ranks) — the latter two let the
    caller append survivors under the committed rank order."""
    from codex_africanus_spark.sources import snapshot as snap

    # Exclude exactly the CURRENT batch's own ids from the committed
    # index (broadcast anti-join — the batch is bounded by definition),
    # not everything matching the batch modulus: under the old modulus
    # filter every appended survivor (all % M == 0) was permanently
    # invisible to later probes, silently breaking the union-commit
    # contract for any multi-batch sequence (r8 advice). With id-exact
    # exclusion, survivors appended by earlier batches ARE consulted;
    # only self-matches of the in-flight batch are suppressed.
    batch_ids = batch_docs.select("doc_id")
    idx_df = snap.read_snapshot(spark, f"{root}/df")
    idx_sets = snap.read_snapshot(spark, f"{root}/sets").join(
        F.broadcast(batch_ids), "doc_id", "left_anti"
    )
    idx_prefix = snap.read_snapshot(spark, f"{root}/prefix").join(
        F.broadcast(batch_ids), "doc_id", "left_anti"
    )
    sh_batch = _shingle_frame(batch_docs).distinct()
    # df ranks for the batch's tokens WITHOUT shuffling the corpus-sized
    # df table: scan it once against the broadcast batch token set (the
    # output is batch-sized), then the rank lookup joins broadcast. A
    # direct sh_batch ⟕ idx_df join would hash-shuffle the whole df
    # table per probe — O(corpus) per batch (r7 self-review).
    batch_ranks = idx_df.join(
        F.broadcast(sh_batch.select("h").distinct()), "h"
    )
    # localCheckpoint, not persist(): three consumers (prefix explode,
    # verify join, report join) read it, and checkpoint blocks free on
    # GC instead of pinning the CacheManager across repeated ingest
    # calls for the life of the session (r8 advice). Batch-sized.
    sets_batch = _rarest_first_sets(
        sh_batch, F.broadcast(batch_ranks)
    ).localCheckpoint(eager=True)
    pfx_batch = _prefix_explode(sets_batch)
    cand = (
        F.broadcast(pfx_batch.alias("a"))
        .join(
            idx_prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (
                F.least(F.col("a.s"), F.col("b.s")) * PREFIX_JACCARD_TAU_DEN
                >= F.greatest(F.col("a.s"), F.col("b.s")) * PREFIX_JACCARD_TAU_NUM
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("base_doc"),
            F.col("a.s").alias("sa"),
            F.col("b.s").alias("sb"),
        )
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("a.pos").alias("pa"),
            F.max("b.pos").alias("pb"),
        )
        .filter(
            (
                F.col("m")
                + F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
            )
            * (PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM)
            >= (F.col("sa") + F.col("sb")) * PREFIX_JACCARD_TAU_NUM
        )
    )
    verified = (
        # broadcast the (pair-bounded) candidate side of the verify join
        # too: idx_sets is the committed corpus — scan it, never shuffle
        F.broadcast(
            cand.join(
                F.broadcast(
                    sets_batch.select("doc_id", F.col("ord_h").alias("arr_a"))
                ),
                "doc_id",
            )
        )
        .join(
            idx_sets.select(
                F.col("doc_id").alias("base_doc"), F.col("ord_h").alias("arr_b")
            ),
            "base_doc",
        )
        .select(
            "doc_id", "base_doc", "sa", "sb",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("long").alias("inter"),
        )
        .filter(
            F.col("inter") * (PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM)
            >= (F.col("sa") + F.col("sb")) * PREFIX_JACCARD_TAU_NUM
        )
        .select(
            "doc_id", "base_doc", "inter",
            F.round(
                F.col("inter")
                / (F.col("sa") + F.col("sb") - F.col("inter")).cast("double"),
                9,
            ).alias("jaccard_q"),
        )
    )
    best = (
        verified.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(
                    F.col("jaccard_q").desc(), F.col("base_doc").asc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    report = (
        batch_docs.select("doc_id")
        .join(
            F.broadcast(sets_batch.select("doc_id", F.col("s").alias("n_shingles"))),
            "doc_id",
            "left",
        )
        .join(F.broadcast(best), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.col("base_doc").isNotNull().cast("int").alias("is_dup"),
            F.col("base_doc").alias("best_match"),
            "inter",
            "jaccard_q",
        )
    )
    return report, sh_batch, batch_ranks


INCREMENTAL_DEDUP_SQL = f"""
  WITH sh AS (
    SELECT DISTINCT doc_id, {hash31_sql('sh')} AS h
    FROM (
      SELECT doc_id, unnest({WORD_3GRAM_SQL}) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 3)
    )
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
  pairs AS (
    SELECT a.doc_id AS doc_id, b.doc_id AS base_doc, COUNT(*) AS inter
    FROM sh a JOIN sh b USING (h)
    WHERE a.doc_id % {INGEST_MODULUS} = 0 AND b.doc_id % {INGEST_MODULUS} != 0
    GROUP BY 1, 2
  ),
  qualifying AS (
    SELECT p.doc_id, p.base_doc, p.inter,
           round(p.inter / CAST(sa.s + sb.s - p.inter AS DOUBLE), 9) AS jaccard_q
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_id
    JOIN sizes sb ON sb.doc_id = p.base_doc
    WHERE p.inter * {PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM}
          >= (sa.s + sb.s) * {PREFIX_JACCARD_TAU_NUM}
  ),
  best AS (
    SELECT doc_id, base_doc, inter, jaccard_q,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY jaccard_q DESC, base_doc) AS rk
    FROM qualifying
  )
  SELECT d.doc_id,
         COALESCE(sz.s, 0) AS n_shingles,
         CAST(b.base_doc IS NOT NULL AS INT) AS is_dup,
         b.base_doc AS best_match,
         b.inter AS inter,
         b.jaccard_q AS jaccard_q
  FROM documents d
  LEFT JOIN sizes sz ON sz.doc_id = d.doc_id
  LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.doc_id = d.doc_id
  WHERE d.doc_id % {INGEST_MODULUS} = 0
  ORDER BY d.doc_id
"""


def incremental_dedup_rank_drift(spark, docs: DataFrame, root: str) -> DataFrame:
    """Index-maintenance audit for the incremental dedup tier: the
    committed index FREEZES df ranks at base-build time (appended
    survivors rank by the committed df — one consistent global order),
    so ranks drift from what a full rebuild over the grown corpus would
    produce. This query measures that drift — the number every index
    maintenance policy needs to decide WHEN to pay for the periodic
    full rebuild: per indexed doc, is its PREFIX (the candidate-join
    key set) different under fresh ranks than under the frozen ones?

    Output (1 row): docs indexed, docs whose prefix set changed, the
    changed fraction, and the fresh corpus's distinct-shingle count.

    Plan shape: one warm probe (ingest report — index tables only),
    then two rank derivations joined per doc: the frozen side reads
    the committed sets table (its stored ord_h IS the frozen order);
    the fresh side recomputes df over base + survivors. Prefixes
    compare as SORTED SETS (order inside the prefix does not affect
    candidate generation — membership does)."""
    report = incremental_dedup_ingest(spark, docs, root)
    survivors = report.filter(F.col("is_dup") == 0).select("doc_id")
    base_docs = docs.filter(F.col("doc_id") % INGEST_MODULUS != 0)
    corpus_sh = (
        _shingle_frame(base_docs)
        .distinct()
        .unionByName(
            _shingle_frame(
                docs.join(F.broadcast(survivors), "doc_id")
            ).distinct()
        )
    )
    df_fresh = corpus_sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    sets_fresh = _rarest_first_sets(corpus_sh, df_fresh)
    prefix_of = (
        "array_sort(slice(ord_h, 1, CAST(s - ((s + 1) DIV 2) + 1 AS INT)))"
    )
    fresh = sets_fresh.select(
        "doc_id", F.expr(prefix_of).alias("fresh_prefix")
    )
    from codex_africanus_spark.sources import snapshot as snap

    frozen = snap.read_snapshot(spark, f"{root}/sets").select(
        "doc_id", F.expr(prefix_of).alias("frozen_prefix")
    )
    j = frozen.join(fresh, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs_indexed"),
        F.sum(
            (F.col("frozen_prefix") != F.col("fresh_prefix")).cast("long")
        ).alias("n_prefix_changed"),
        F.round(
            F.sum((F.col("frozen_prefix") != F.col("fresh_prefix")).cast("long"))
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("changed_frac"),
    )


RANK_DRIFT_SQL = f"""
  WITH sh AS (
    SELECT DISTINCT doc_id, {hash31_sql('sh')} AS h
    FROM (
      SELECT doc_id, unnest({WORD_3GRAM_SQL}) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
            WHERE len(string_split(text, ' ')) >= 3)
    )
  ),
  sizes AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
  pairs AS (
    SELECT a.doc_id AS doc_id, b.doc_id AS base_doc, COUNT(*) AS inter
    FROM sh a JOIN sh b USING (h)
    WHERE a.doc_id % {INGEST_MODULUS} = 0 AND b.doc_id % {INGEST_MODULUS} != 0
    GROUP BY 1, 2
  ),
  dup AS (
    SELECT DISTINCT p.doc_id
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_id
    JOIN sizes sb ON sb.doc_id = p.base_doc
    WHERE p.inter * {PREFIX_JACCARD_TAU_DEN + PREFIX_JACCARD_TAU_NUM}
          >= (sa.s + sb.s) * {PREFIX_JACCARD_TAU_NUM}
  ),
  indexed AS (
    SELECT doc_id, h FROM sh
    WHERE doc_id % {INGEST_MODULUS} != 0
       OR doc_id NOT IN (SELECT doc_id FROM dup)
  ),
  df_frozen AS (
    SELECT h, COUNT(*) AS df FROM indexed
    WHERE doc_id % {INGEST_MODULUS} != 0 GROUP BY h
  ),
  df_fresh AS (SELECT h, COUNT(*) AS df FROM indexed GROUP BY h),
  frozen_sets AS (
    SELECT i.doc_id,
           list(i.h ORDER BY COALESCE(f.df, 0), i.h) AS ord_h,
           COUNT(*) AS s
    FROM indexed i LEFT JOIN df_frozen f ON f.h = i.h
    GROUP BY i.doc_id
  ),
  fresh_sets AS (
    SELECT i.doc_id,
           list(i.h ORDER BY COALESCE(f.df, 0), i.h) AS ord_h,
           COUNT(*) AS s
    FROM indexed i LEFT JOIN df_fresh f ON f.h = i.h
    GROUP BY i.doc_id
  ),
  cmp AS (
    SELECT fz.doc_id,
           list_sort(fz.ord_h[1 : CAST(fz.s - ((fz.s + 1) // 2) + 1 AS INT)])
             AS frozen_prefix,
           list_sort(fr.ord_h[1 : CAST(fr.s - ((fr.s + 1) // 2) + 1 AS INT)])
             AS fresh_prefix
    FROM frozen_sets fz JOIN fresh_sets fr ON fr.doc_id = fz.doc_id
  )
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_indexed,
         CAST(SUM(CASE WHEN frozen_prefix <> fresh_prefix THEN 1 ELSE 0 END)
              AS BIGINT) AS n_prefix_changed,
         round(SUM(CASE WHEN frozen_prefix <> fresh_prefix THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 9) AS changed_frac
  FROM cmp
"""


def dedup_index_rebuild(spark, root: str) -> dict:
    """Periodic full rebuild of the incremental-dedup index — the
    maintenance cadence `incremental_dedup_rank_drift` measures the
    need for (r7 verdict #6): re-rank every committed document by the
    CURRENT corpus's df (frozen base ranks + appended-survivor ranks
    collapse into one fresh global order), snapshot-commit the new
    df/sets/prefix generation, restore the meta (same source
    fingerprint — the corpus didn't change, so probes stay warm), and
    vacuum transaction directories superseded by the PRE-REBUILD
    snapshot (time travel back to exactly one prior generation keeps
    working; older generations are reclaimed).

    The rebuild never rescans the raw corpus: the committed sets
    table's `ord_h` arrays ARE the per-doc shingle sets — explode,
    recount df, re-rank. O(index), not O(corpus text).

    Invariant (tested): probe REPORTS are unchanged by a rebuild — the
    prefix/positional pruning is lossless at jaccard ≥ τ under ANY
    consistent total (df, h) order, and the verify stage intersects
    full sets — only candidate-generation EFFICIENCY depends on rank
    freshness. Returns {table: pre_rebuild_version} for time travel."""
    from codex_africanus_spark.operators.similarity import (
        _read_index_meta,
        _tombstone_index_meta,
        _write_index_meta,
    )
    from codex_africanus_spark.sources import snapshot as snap

    pre = {t: snap.latest_version(f"{root}/{t}") for t in ("df", "sets", "prefix")}
    meta = _read_index_meta(spark, root)
    if meta is None or any(v is None for v in pre.values()):
        raise ValueError(f"no committed ingest index at {root}")
    exploded = snap.read_snapshot(spark, f"{root}/sets").select(
        "doc_id", F.explode("ord_h").alias("h")
    )
    df_new = exploded.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    sets_new = _rarest_first_sets(exploded, df_new)
    # tombstone meta FIRST (crash mid-rebuild reads stale, triggers cold
    # rebuild), meta restored LAST — the same crash discipline as the
    # cold ingest build
    _tombstone_index_meta(spark, root)
    snap.commit(df_new, f"{root}/df", mode="overwrite")
    snap.commit(sets_new, f"{root}/sets", mode="overwrite")
    snap.commit(_prefix_explode(sets_new), f"{root}/prefix", mode="overwrite")
    _write_index_meta(
        spark, root,
        (meta["format"], meta["n_vecs"], meta["checksum"], meta["constants"]),
        meta["source_fp"],
    )
    # reclaim generations older than the pre-rebuild snapshot; the
    # pre-rebuild version itself stays readable for time travel
    for t, v in pre.items():
        snap.vacuum(f"{root}/{t}", retain_from_version=v)
    return pre


# ---------------------------------------------------------------------------
# r10: paragraph-grain MinHash dedup (r9 verdict candidate 4) — the
# CCNet shape: dedup BELOW document granularity. Documents split into
# sentence-grain units ('. ' separator — the corpus's paragraph
# analogue), each unit gets the standard 8-permutation MinHash over its
# word-3gram shingles, LSH banding generates CROSS-DOCUMENT candidate
# unit pairs, and a unit is a duplicate when a lower-uid unit from
# another document agrees on ≥ 6/8 signatures (keep-first-occurrence).
# Report = per-source paragraph dup census (bounded by #sources, never
# empty). Unit ids pack as doc_id·1024 + para_idx — the corpus's
# sentence counts are two orders below the radix; a real deployment
# sizes the radix to its max paragraph count (SCALE.md row).
# ---------------------------------------------------------------------------

PARA_RADIX = 1024
PARA_SIG_MIN = 6  # ≥6/8 signature agreement = near-dup unit


def para_units(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """Sentence-grain units with packed uid — the ONE place the
    paragraph split/radix lives. Projection-only; `keep` threads extra
    columns (source)."""
    from codex_africanus_spark.sources.tables import fan_out

    return (
        fan_out(docs)
        .select(
            "doc_id", *keep,
            F.posexplode(F.split(F.col("text"), "\\. ")).alias(
                "para_idx", "ptext"
            ),
        )
        .filter(F.size(F.split(F.col("ptext"), " ")) >= 3)
        .filter(F.col("para_idx") < PARA_RADIX)
        .select(
            (F.col("doc_id") * PARA_RADIX + F.col("para_idx")).alias("uid"),
            "doc_id", *keep, "ptext",
        )
    )


def para_banded_from_units(units: DataFrame) -> DataFrame:
    """Band-keyed MinHash frame of paragraph units. Pure projections."""
    hashed = units.select(
        "uid", "doc_id",
        F.transform(word_3gram_shingles("ptext"), hash31).alias("hs"),
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P)
        ).alias(f"sig_{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    sigs = hashed.select("uid", "doc_id", *sig_cols)
    band_keys = F.array(
        *[
            F.concat_ws("_", F.col(f"sig_{2 * b}"), F.col(f"sig_{2 * b + 1}"))
            for b in range(N_BANDS)
        ]
    )
    return sigs.select(
        "uid", "doc_id",
        *[F.col(f"sig_{k}") for k in range(len(MINHASH_A))],
        F.posexplode(band_keys).alias("band", "band_key"),
    )


def paragraph_minhash_dedup(docs: DataFrame) -> DataFrame:
    paras = para_units(docs, keep=("source",))
    banded = para_banded_from_units(paras)
    a = banded.select(
        F.col("uid").alias("uid_a"), F.col("doc_id").alias("doc_a"),
        "band", "band_key",
        *[F.col(f"sig_{k}").alias(f"a_{k}") for k in range(len(MINHASH_A))],
    )
    b = banded.select(
        F.col("uid").alias("uid_b"), F.col("doc_id").alias("doc_b"),
        "band", "band_key",
        *[F.col(f"sig_{k}").alias(f"b_{k}") for k in range(len(MINHASH_A))],
    )
    n_match = sum(
        (F.col(f"a_{k}") == F.col(f"b_{k}")).cast("int")
        for k in range(len(MINHASH_A))
    )
    dup_units = (
        a.join(
            b,
            (a["band"] == b["band"]) & (a["band_key"] == b["band_key"])
            & (F.col("uid_a") < F.col("uid_b"))
            & (F.col("doc_a") != F.col("doc_b")),
        )
        .filter(n_match >= PARA_SIG_MIN)
        .select(F.col("uid_b").alias("uid"))
        .distinct()
    )
    flagged = paras.join(dup_units, "uid", "left_semi").select(
        "uid", "doc_id", "source"
    )
    per_source = paras.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    dup_per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_dup_paras"),
        F.count_distinct("doc_id").alias("n_docs_affected"),
    )
    return (
        per_source.join(dup_per_source, "source", "left")
        .select(
            "source", "n_paras", "n_docs",
            F.coalesce(F.col("n_dup_paras"), F.lit(0)).alias("n_dup_paras"),
            F.coalesce(F.col("n_docs_affected"), F.lit(0)).alias(
                "n_docs_affected"
            ),
        )
        .orderBy("source")
    )


def _para_sig_select() -> str:
    cols = ", ".join(
        f"MIN(({a} * h + {b}) % {HASH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    return f"SELECT uid, doc_id, {cols} FROM pshingles GROUP BY uid, doc_id"


_PARA_BAND_UNION = " UNION ALL ".join(
    f"SELECT uid, doc_id, {band} AS band, "
    f"concat_ws('_', sig_{2*band}, sig_{2*band+1}) AS band_key, "
    + ", ".join(f"sig_{k}" for k in range(len(MINHASH_A)))
    + " FROM psigs"
    for band in range(N_BANDS)
)

PARA_MINHASH_SQL = f"""
  WITH paras AS (
    SELECT doc_id * {PARA_RADIX} + para_idx AS uid, doc_id, source, ptext
    FROM (
      SELECT doc_id, source,
             unnest(string_split(text, '. ')) AS ptext,
             CAST(unnest(generate_series(0, len(string_split(text, '. ')) - 1)) AS BIGINT)
               AS para_idx
      FROM documents
    )
    WHERE len(string_split(ptext, ' ')) >= 3 AND para_idx < {PARA_RADIX}
  ),
  pshingles AS (
    SELECT uid, doc_id, {hash31_sql('sh')} AS h
    FROM (
      SELECT uid, doc_id, unnest({WORD_3GRAM_SQL}) AS sh
      FROM (SELECT uid, doc_id, string_split(ptext, ' ') AS w FROM paras)
    )
  ),
  psigs AS ({_para_sig_select()}),
  pbanded AS ({_PARA_BAND_UNION}),
  dup_units AS (
    SELECT DISTINCT b.uid
    FROM pbanded a JOIN pbanded b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.uid < b.uid AND a.doc_id <> b.doc_id
    WHERE ({_SIG_MATCH}) >= {PARA_SIG_MIN}
  ),
  per_source AS (
    SELECT source, COUNT(*) AS n_paras, COUNT(DISTINCT doc_id) AS n_docs
    FROM paras GROUP BY source
  ),
  dup_src AS (
    SELECT p.source, COUNT(*) AS n_dup_paras,
           COUNT(DISTINCT p.doc_id) AS n_docs_affected
    FROM paras p JOIN dup_units d ON d.uid = p.uid
    GROUP BY p.source
  )
  SELECT s.source, s.n_paras, s.n_docs,
         COALESCE(d.n_dup_paras, 0) AS n_dup_paras,
         COALESCE(d.n_docs_affected, 0) AS n_docs_affected
  FROM per_source s LEFT JOIN dup_src d ON d.source = s.source
  ORDER BY s.source
"""

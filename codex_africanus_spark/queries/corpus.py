"""LLM training-data pipeline queries: dedup, text quality, curation,
tokenizer, multimodal (the corpus tier). Mechanically moved out of the
former queries.py (round 9)."""


from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from codex_africanus_spark.sources.tables import load, local_frame
from codex_africanus_spark.operators import dedup as dedup_op  # noqa: E402
from codex_africanus_spark.operators import multimodal as mm_op  # noqa: E402
from codex_africanus_spark.operators import similarity as sim_op  # noqa: E402
from codex_africanus_spark.functions import text as text_fn  # noqa: E402
from codex_africanus_spark.operators import sketches as sketch_op  # noqa: E402
from codex_africanus_spark.operators import curation as cur_op  # noqa: E402
from codex_africanus_spark.operators import classifier as clf_op  # noqa: E402
from codex_africanus_spark.operators import corpus_stats as cstat_op  # noqa: E402
from codex_africanus_spark.operators import tokenizer as tok_op  # noqa: E402
from codex_africanus_spark.operators import retrieval as retr_op  # noqa: E402

from ._core import (  # noqa: F401
    register,
)

@register("exact_dedup_documents", dedup_op.EXACT_DEDUP_SQL)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: digest groupBy → canonical id + copy count."""
    return dedup_op.exact_dedup(load(spark, "documents", sf_dir)).orderBy("canonical_doc_id")


@register("minhash_signatures", dedup_op.MINHASH_SIG_SQL)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 permutation MinHash signatures over word-3gram shingles."""
    return dedup_op.minhash_signatures(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register("minhash_lsh_near_dup_pairs", dedup_op.MINHASH_LSH_SQL)
def minhash_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded candidate near-duplicate pairs + estimated Jaccard."""
    return dedup_op.minhash_lsh_pairs(load(spark, "documents", sf_dir)).orderBy("doc_a", "doc_b")


@register("simhash_near_dup_pairs", dedup_op.SIMHASH_PAIRS_SQL)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming near-dup pairs (nibble LSH + bit_count
    verify) — completes the simhash tier with the same single-shuffle
    bucket-join shape as the MinHash LSH."""
    return dedup_op.simhash_near_dup_pairs(load(spark, "documents", sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


@register("near_dup_clusters", dedup_op.NEAR_DUP_CLUSTERS_SQL)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over LSH near-dup pairs → cluster id, size,
    canonical flag (iterative min-label propagation; DuckDB oracle is the
    recursive-CTE transitive closure)."""
    return dedup_op.near_dup_clusters(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register("simhash_fingerprints", dedup_op.SIMHASH_SQL)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash bit-voting fingerprints per document."""
    return dedup_op.simhash_fingerprints(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register("ngram_jaccard_pairs", dedup_op.NGRAM_JACCARD_SQL)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard verification tier for probe documents."""
    return dedup_op.ngram_jaccard_pairs(load(spark, "documents", sf_dir)).orderBy("doc_a", "doc_b")


_TOKEN_QUALITY_SQL = f"""
  SELECT doc_id,
         len(string_split(text, ' '))                          AS n_tokens,
         len(text)                                             AS n_chars,
         (len(text) - len(string_split(text, ' ')) + 1)        AS n_token_chars,
         {text_fn.occurrences_sql("concat(' ', text, ' ')", " the ")}
           + {text_fn.occurrences_sql("concat(' ', text, ' ')", " and ")} AS n_stopword_hits,
         round(CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
               / len(string_split(text, ' ')), 6)              AS avg_token_len
  FROM documents ORDER BY doc_id
"""


@register("doc_token_quality", _TOKEN_QUALITY_SQL)
def doc_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality metrics (length/stopword ratios) —
    all JVM-side length/replace arithmetic, no UDF."""
    docs = load(spark, "documents", sf_dir)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_tokens = text_fn.token_count(F.col("text"))
    n_token_chars = F.length("text") - n_tokens + 1
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        n_token_chars.cast("long").alias("n_token_chars"),
        (text_fn.occurrences(padded, " the ") + text_fn.occurrences(padded, " and "))
        .alias("n_stopword_hits"),
        F.round(n_token_chars.cast("double") / n_tokens, 6).alias("avg_token_len"),
    ).orderBy("doc_id")


def _lang_hits_sql(markers: list[str]) -> str:
    return " + ".join(
        text_fn.occurrences_sql("concat(' ', text, ' ')", m) for m in markers
    )


_LANG_ID_SQL = f"""
  WITH scored AS (
    SELECT doc_id, lang,
           {_lang_hits_sql(text_fn.LANG_MARKERS['en'])} AS hits_en,
           {_lang_hits_sql(text_fn.LANG_MARKERS['fr'])} AS hits_fr,
           {_lang_hits_sql(text_fn.LANG_MARKERS['de'])} AS hits_de,
           {_lang_hits_sql(text_fn.LANG_MARKERS['es'])} AS hits_es
    FROM documents
  )
  SELECT doc_id, lang, hits_en, hits_fr, hits_de, hits_es,
         CASE WHEN hits_en >= hits_fr AND hits_en >= hits_de AND hits_en >= hits_es AND hits_en > 0 THEN 'en'
              WHEN hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr > 0 THEN 'fr'
              WHEN hits_de >= hits_es AND hits_de > 0 THEN 'de'
              WHEN hits_es > 0 THEN 'es'
              ELSE 'unknown' END AS lang_pred
  FROM scored ORDER BY doc_id
"""


@register("lang_id_heuristic", _LANG_ID_SQL)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram stopword-marker language ID with argmax tie precedence."""
    docs = load(spark, "documents", sf_dir)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    hits = {
        lang: sum(text_fn.occurrences(padded, m) for m in markers).alias(f"hits_{lang}")
        for lang, markers in text_fn.LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", "lang", *hits.values())
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_fr"))
            & (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_es"))
            & (F.col("hits_en") > 0),
            F.lit("en"),
        )
        .when(
            (F.col("hits_fr") >= F.col("hits_de"))
            & (F.col("hits_fr") >= F.col("hits_es"))
            & (F.col("hits_fr") > 0),
            F.lit("fr"),
        )
        .when((F.col("hits_de") >= F.col("hits_es")) & (F.col("hits_de") > 0), F.lit("de"))
        .when(F.col("hits_es") > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )
    return scored.withColumn("lang_pred", pred).orderBy("doc_id")


@register(
    "doc_fingerprints",
    """
    SELECT doc_id, md5(text) AS fingerprint,
           CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint_int
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 digest + 60-bit integer projection."""
    docs = load(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        text_fn.hash60(F.col("text")).alias("fingerprint_int"),
    ).orderBy("doc_id")


_SAMPLE_RATES = {"en": 50, "fr": 35, "de": 35, "es": 35}  # % kept per stratum


@register(
    "stratified_sample_documents",
    f"""
    SELECT doc_id, lang,
           {text_fn.hash31_sql('text')} % 100 AS sample_bucket
    FROM documents
    WHERE {text_fn.hash31_sql('text')} % 100 <
          CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _SAMPLE_RATES.items())}
          ELSE 20 END
    ORDER BY doc_id
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling for training-data curation:
    per-language keep rates applied through a CONTENT-hash bucket (not
    rand()), so the sample is deterministic across engines, retries, and
    re-partitioning — a pure pushdown-able filter, zero shuffles."""
    docs = load(spark, "documents", sf_dir)
    bucket = text_fn.hash31(F.col("text")) % 100
    rate = F.lit(20)
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        docs.filter(bucket < rate)
        .select("doc_id", "lang", bucket.alias("sample_bucket"))
        .orderBy("doc_id")
    )


@register(
    "corpus_curation_pipeline",
    """
    WITH quality AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 200
    ),
    canon AS (
      SELECT md5(text) AS digest, MIN(doc_id) AS canonical_doc_id
      FROM quality GROUP BY md5(text)
    )
    SELECT q.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(q.n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
    FROM quality q
    JOIN canon c ON c.digest = md5(q.text) AND c.canonical_doc_id = q.doc_id
    GROUP BY q.lang ORDER BY q.lang
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: token-count quality gate →
    exact dedup (keep the canonical copy) → per-language corpus stats.
    One digest groupBy + one broadcast join back + one tiny agg — the
    integration shape of a real corpus pipeline, all JVM expressions."""
    docs = load(spark, "documents", sf_dir)
    quality = docs.withColumn(
        "n_tokens", text_fn.token_count(F.col("text")).cast("long")
    ).filter(F.col("n_tokens").between(20, 200))
    canon = quality.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("canonical_doc_id")
    )
    kept = quality.join(
        F.broadcast(canon),
        (F.md5(quality.text) == canon.digest)
        & (quality.doc_id == canon.canonical_doc_id),
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang")
    )


_BPE_PAT = " ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"


@register(
    "bpe_token_estimate",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)
             AS n_regex_tokens,
           CAST(CASE WHEN text IS NULL THEN NULL
                ELSE COALESCE(list_sum([CAST(ceil(len(t) / 4.0) AS BIGINT)
                          for t in regexp_extract_all(text, '{_BPE_PAT}')]), 0)
                END AS BIGINT) AS n_subword_tokens
    FROM documents ORDER BY doc_id
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the regex pre-tokenizer tier of byte-pair
    tokenizers): GPT-2-style split into letter runs / digit runs / other
    runs with an optional leading space, then a subword estimate of
    ceil(len/4) chunks per pre-token. Pure higher-order codegen
    expressions (regexp_extract_all + transform/aggregate) — no UDF, so
    the count runs JVM-side at scan speed."""
    docs = load(spark, "documents", sf_dir)
    toks = F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)")
    subwords = F.expr(
        f"aggregate(transform(regexp_extract_all(text, '{_BPE_PAT}', 0), "
        "t -> CAST(ceil(length(t) / 4.0) AS BIGINT)), 0L, (a, x) -> a + x)"
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_regex_tokens"),
        subwords.alias("n_subword_tokens"),
    ).orderBy("doc_id")


@register("multimodal_decode_metadata", mm_op.DECODE_META_SQL)
def multimodal_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: attach blob payload, Arrow mapInPandas
    decode (deterministic stub), typed metadata out."""
    docs = load(spark, "documents", sf_dir)
    return mm_op.decode_metadata(mm_op.attach_binary_payload(docs)).orderBy("doc_id")


@register("multimodal_frame_sample", mm_op.FRAME_SAMPLE_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over binary payloads (video
    frame-sample analog): windowed substring extraction stays in codegen,
    typed per-frame metadata out."""
    docs = load(spark, "documents", sf_dir)
    return mm_op.frame_sample(mm_op.attach_binary_payload(docs)).orderBy(
        "doc_id", "frame_idx"
    )


_AUDIO_WIN_ORACLE = """
    WITH bytes AS (
      SELECT doc_id, CAST(i AS INT) AS i,
             ascii(substr(text, CAST(i AS INT), 1)) AS b
      FROM (SELECT doc_id, text, UNNEST(range(1, length(text) + 1)) AS i
            FROM documents)
    ), wins AS (
      SELECT doc_id,
             CAST(UNNEST(range(CAST(ceil(n / 128.0) AS BIGINT))) AS INT) AS win
      FROM (SELECT doc_id, length(text) AS n FROM documents
            WHERE length(text) > 0)
    )
    SELECT w.doc_id, w.win,
           CAST(COUNT(*) AS INT) AS n_bytes,
           CAST(SUM(b.b) AS BIGINT) AS sum_b,
           CAST(SUM(b.b * b.b) AS BIGINT) AS sumsq_b,
           CAST(MAX(b.b) AS INT) AS peak
    FROM wins w
    JOIN bytes b ON b.doc_id = w.doc_id
               AND b.i > w.win * 128 AND b.i <= w.win * 128 + 256
    GROUP BY w.doc_id, w.win
    ORDER BY w.doc_id, w.win
"""


@register("multimodal_audio_windows", _AUDIO_WIN_ORACLE)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-hop audio-style windowing over binary payloads
    (window 256, hop 128 — each byte reaches up to 2 frames) with pure
    integer per-window statistics; the Arrow batch loop is where a real
    mel/MFCC featurizer slots in. Exactly oracled: the window band-join
    over the unnested bytes reproduces the segmentation, and all stats
    are integers."""
    docs = load(spark, "documents", sf_dir)
    return mm_op.audio_window_stats(
        mm_op.attach_binary_payload(docs)
    ).orderBy("doc_id", "win")


# Exact SQL mirror of the byte-feature UDF: the demo payload is the
# utf-8 bytes of ASCII text, so the byte histogram is a char-unnest
# GROUP BY; python round() is half-even ⇒ round_even; the entropy sum
# differs from NumPy's pairwise order at ~1e-13 — far inside the 0.5
# milli rounding margin.
_MM_FEATURES_ORACLE = """
    WITH chars AS (
      SELECT doc_id, length(text) AS n,
             ascii(UNNEST(string_split(text, ''))) AS b
      FROM documents WHERE length(text) > 0
    ), hist AS (
      SELECT doc_id, n, b, COUNT(*) AS c FROM chars GROUP BY doc_id, n, b
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(COUNT(*) AS INT) AS distinct_bytes,
           CAST(round_even(-SUM((c / CAST(n AS DOUBLE))
                * log2(c / CAST(n AS DOUBLE))) * 1e3, 0) AS BIGINT) AS entropy_milli,
           CAST(round_even((SUM(CASE WHEN b >= 32 AND b < 127 THEN c ELSE 0 END) * 1e3)
                / n, 0) AS BIGINT) AS printable_ratio_milli
    FROM hist GROUP BY doc_id, n
    UNION ALL
    SELECT doc_id, 0, 0, 0, 0 FROM documents WHERE length(text) = 0
    ORDER BY doc_id
"""


@register("multimodal_extract_features", _MM_FEATURES_ORACLE)
def multimodal_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level content features over binary payloads (entropy,
    printable ratio, distinct bytes) — the decode-free quality gate of a
    multimodal ingest pipeline; Arrow-batched mapInPandas, integer-milli
    quantized. Exactly oracled for the ASCII demo payload (NumPy
    backend-equivalence in tests/test_multimodal_features.py covers
    arbitrary bytes)."""
    docs = load(spark, "documents", sf_dir)
    return mm_op.extract_features(mm_op.attach_binary_payload(docs)).orderBy("doc_id")


@register("chunk_dedup_corpus", cur_op.CHUNK_DEDUP_SQL)
def chunk_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style chunk-level exact dedup across the corpus: 10-word chunks,
    first occurrence wins, per-doc kept counts + md5 of the reassembled
    deduplicated text (operators/curation.py — two uniform-key shuffles,
    no pairwise work)."""
    return cur_op.chunk_dedup(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register("sliding_window_chunks", cur_op.SLIDING_CHUNKS_SQL)
def sliding_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (W=32 tokens, stride 24) —
    the RAG/context-window chunk form with spans and digests per chunk;
    a pure array-HOF projection, zero shuffle at any corpus size."""
    return cur_op.sliding_window_chunks(load(spark, "documents", sf_dir)).orderBy(
        "doc_id", "chunk_idx"
    )


@register("repetition_quality_flags", cur_op.REPETITION_SQL)
def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition signals: duplicate-word
    fraction, top-word fraction, top-bigram fraction — the cheap
    boilerplate/spam filters of a web-scale curation pipeline."""
    return cur_op.repetition_flags(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register("dedup_keep_best_quality", cur_op.KEEP_BEST_SQL)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup final step: per MinHash-LSH cluster keep the longest
    document (ties → lowest doc_id) via one max(struct) argmax groupBy on
    top of the label-propagation cluster operator."""
    return cur_op.keep_best_per_cluster(load(spark, "documents", sf_dir)).orderBy(
        "cluster_id"
    )


@register("eval_decontamination", cur_op.DECONTAM_SQL)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination sweep: flag corpus docs whose word-3-gram
    shingle containment against any held-out eval doc (doc_id % 50 == 0)
    reaches τ — broadcast eval shingles, no corpus×corpus pairs."""
    return cur_op.eval_decontamination(load(spark, "documents", sf_dir)).orderBy(
        "doc_id", "eval_doc_id"
    )


@register("cross_doc_dup_spans", cur_op.CROSS_DOC_DUP_SQL)
def cross_doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of word-5-gram spans shared with another
    document (Lee et al. 2021 substring-dedup signal): distinct
    (doc, span) pairs → span document frequency → co-keyed join back —
    no corpus self-join."""
    return cur_op.cross_doc_dup_spans(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("boilerplate_top_spans", cur_op.BOILERPLATE_TOP_SQL)
def boilerplate_top_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most widespread word-5-gram spans by document frequency —
    the boilerplate/template detector feeding stop-span lists for
    substring dedup. K-row total order only."""
    return cur_op.boilerplate_top_spans(load(spark, "documents", sf_dir)).orderBy(
        "rank"
    )


@register("pii_redaction_stats", cur_op.PII_REDACTION_SQL)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural PII scrub (email-shaped + long all-digit tokens →
    redaction marker) with per-doc counts and redacted-text digest — a
    pure scan projection (array HOFs, zero shuffles, no regex). The
    synthetic corpus carries no PII-shaped tokens, so this row verifies
    the plumbing at zero redactions; toy-data unit tests pin the
    redaction behavior itself."""
    return cur_op.pii_redaction_stats(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("tfidf_top_terms", cur_op.TFIDF_SQL)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tf · ln(N/df), ties → term asc) —
    keyword extraction / feature weighting over the corpus."""
    return cur_op.tfidf_top_terms(load(spark, "documents", sf_dir)).orderBy(
        "doc_id", "term_rank"
    )


@register("winnowing_fingerprints", cur_op.WINNOWING_SQL)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sketch per document (Schleimer, Wilkerson &
    Aiken 2003): rightmost-minimal 3-gram hash per sliding window of 4,
    packed (hash, reversed-pos) keys making the tie rule a plain window
    min — the plagiarism-detection/MOSS-style local fingerprinting tier
    between exact hashing and MinHash."""
    return cur_op.winnowing_fingerprints(load(spark, "documents", sf_dir)).orderBy(
        "doc_id", "sel_pos"
    )


@register("unigram_logprob_quality", cur_op.UNIGRAM_LOGPROB_SQL)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality filter with a self-trained unigram
    LM: per-doc mean token surprisal in bits, fixed-point-quantized for
    partition-order independence."""
    return cur_op.unigram_logprob_quality(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("sequence_packing", cur_op.SEQUENCE_PACKING_SQL)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into fixed 512-token training
    sequences via the two-phase (bucket-parallel) prefix sum — the
    single-window form the oracle uses collapses to one task on a
    cluster; this one doesn't."""
    return cur_op.sequence_packing(load(spark, "documents", sf_dir)).orderBy("doc_id")


@register(
    "packed_sequence_manifest",
    f"""
  WITH toks AS (
    SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
  ),
  packed AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS global_off
    FROM toks
  )
  SELECT CAST(global_off // {cur_op.SEQ_BUDGET} AS BIGINT) AS seq_id,
         COUNT(*) AS n_docs_starting,
         CAST(MIN(doc_id) AS BIGINT) AS first_doc,
         CAST(MAX(doc_id) AS BIGINT) AS last_doc,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_started
  FROM packed GROUP BY 1 ORDER BY seq_id
    """,
)
def packed_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest view of sequence packing: per 512-token training sequence,
    the docs that START in it and their token mass — the reader-side
    index a packed dataset ships with."""
    packed = cur_op.sequence_packing(load(spark, "documents", sf_dir))
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs_starting"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_tokens").cast("long").alias("tokens_started"),
        )
        .orderBy("seq_id")
    )


@register("quality_classifier_scores", clf_op.CLASSIFY_SQL)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style linear quality classifier over hashed bag-of-words:
    token → hash bucket → weight, fused into one integer accumulator per
    document (the bucket vector is never materialized) + rational
    fast-sigmoid probability. Pure projection — zero shuffle; the model
    rides the corpus scan at 100 TB."""
    return clf_op.classify(load(spark, "documents", sf_dir)).orderBy("doc_id")


_SWEEP_PPM = tuple(range(300000, 750000, 50000))  # 0.30 ... 0.70


_QSWEEP_SQL = """
  WITH base AS ({classify}),
  s2 AS (
    SELECT doc_id, n_tokens,
           CAST(ROUND(quality_score * 1000000) AS BIGINT) AS q_ppm
    FROM base
  ),
  th AS (SELECT unnest([{thresholds}]) AS t_ppm),
  tot AS (SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens FROM s2)
  SELECT CAST(t.t_ppm AS BIGINT) AS t_ppm,
         CAST(SUM(CASE WHEN s.q_ppm >= t.t_ppm THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_kept,
         CAST(SUM(CASE WHEN s.q_ppm >= t.t_ppm THEN s.n_tokens ELSE 0 END)
              AS BIGINT) AS tokens_kept,
         (CAST(SUM(CASE WHEN s.q_ppm >= t.t_ppm THEN s.n_tokens ELSE 0 END)
               AS BIGINT) * 1000000) / (SELECT n_tokens FROM tot)
           AS token_share_ppm
  FROM s2 s, th t
  GROUP BY t.t_ppm
  ORDER BY t_ppm
""".format(
    classify=clf_op.CLASSIFY_SQL.replace("ORDER BY doc_id", ""),
    thresholds=", ".join(str(t) for t in _SWEEP_PPM),
)


@register("quality_threshold_sweep", _QSWEEP_SQL)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve of the quality classifier - docs and tokens kept
    at each candidate threshold (the curve a pipeline operator reads to
    pick the cut): one pass over the scored corpus crossed with a
    9-row broadcast threshold axis, map-side-combining conditional
    sums; comparisons in integer ppm, never float."""
    from codex_africanus_spark.functions.deterministic import quantize

    scored = clf_op.classify(load(spark, "documents", sf_dir))
    s2 = scored.select(
        "doc_id", "n_tokens", quantize(F.col("quality_score"), 1e6).alias("q_ppm")
    )
    th = local_frame(spark, [(t,) for t in _SWEEP_PPM], "t_ppm long")
    tot = s2.agg(F.sum("n_tokens").alias("tot_tokens"))
    kept = F.when(F.col("q_ppm") >= F.col("t_ppm"), 1).otherwise(0)
    kept_tok = F.when(F.col("q_ppm") >= F.col("t_ppm"), F.col("n_tokens")).otherwise(0)
    return (
        s2.crossJoin(F.broadcast(th))
        .groupBy("t_ppm")
        .agg(
            F.sum(kept).alias("docs_kept"),
            F.sum(kept_tok).alias("tokens_kept"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "t_ppm",
            "docs_kept",
            "tokens_kept",
            ((F.col("tokens_kept") * 1000000) / F.col("tot_tokens")).alias(
                "token_share_ppm"
            ),
        )
        .orderBy("t_ppm")
    )


_BUDGET_NUM, _BUDGET_DEN = 6, 10  # keep the top-quality 60% of tokens


_TOKEN_BUDGET_SQL = """
  WITH base AS ({classify}),
  s2 AS (
    SELECT doc_id, n_tokens,
           CAST(ROUND(quality_score * 1000000) AS BIGINT) AS q_ppm
    FROM base
  ),
  c AS (
    SELECT doc_id, q_ppm, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY q_ppm DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
    FROM s2
  ),
  t AS (SELECT SUM(n_tokens) AS total FROM s2)
  SELECT doc_id, q_ppm, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(cum_before AS BIGINT) AS cum_before,
         ((cum_before + n_tokens) * {den} <= t.total * {num}) AS kept
  FROM c, t ORDER BY doc_id
""".format(
    classify=clf_op.CLASSIFY_SQL.replace("ORDER BY doc_id", ""),
    num=_BUDGET_NUM,
    den=_BUDGET_DEN,
)


@register("token_budget_selection", _TOKEN_BUDGET_SQL)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered selection under a token budget (keep the
    best docs until 60% of corpus tokens are spent) - the data-mixing
    cut a token-budgeted training run makes. The global prefix sum over
    quality order uses the same TWO-PHASE scan as sequence_packing (a
    naive global-window cumsum collapses to one task): quality-range
    buckets (monotone in the sort key) carry parallel local cumsums,
    bucket totals prefix-sum on a tiny frame, broadcast offsets restore
    the global scan. Budget compare is integer cross-multiplied."""
    from codex_africanus_spark.functions.deterministic import quantize

    scored = clf_op.classify(load(spark, "documents", sf_dir))
    s2 = scored.select(
        "doc_id", "n_tokens", quantize(F.col("quality_score"), 1e6).alias("q_ppm")
    ).withColumn("bucket", F.expr("(1000000 - q_ppm) DIV 10000"))
    # three consumers (local window, bucket totals, corpus total) — score
    # the corpus once, not three times. localCheckpoint, not persist():
    # persist() pins the plan in the SQL CacheManager for the session
    # (repeated runs accumulate executor memory — r8 advice); checkpoint
    # blocks are freed by the ContextCleaner once this frame is GC'd.
    s2 = s2.localCheckpoint(eager=True)
    wloc = (
        W.partitionBy("bucket")
        .orderBy(F.col("q_ppm").desc(), "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = s2.withColumn(
        "local_off", F.coalesce(F.sum("n_tokens").over(wloc), F.lit(0))
    )
    btot = s2.groupBy("bucket").agg(F.sum("n_tokens").alias("btok"))
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    boff = btot.withColumn(
        "bucket_off", F.coalesce(F.sum("btok").over(wb), F.lit(0))
    ).select("bucket", "bucket_off")
    tot = s2.agg(F.sum("n_tokens").alias("total"))
    return (
        local.join(F.broadcast(boff), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "q_ppm",
            "n_tokens",
            (F.col("bucket_off") + F.col("local_off")).alias("cum_before"),
            (
                (F.col("bucket_off") + F.col("local_off") + F.col("n_tokens"))
                * _BUDGET_DEN
                <= F.col("total") * _BUDGET_NUM
            ).alias("kept"),
        )
        .orderBy("doc_id")
    )


@register("quality_classifier_source_rollup", clf_op.SOURCE_ROLLUP_SQL)
def quality_classifier_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report from the classifier (doc counts, keep
    rate, fixed-point mean quality): scores stay scan-resident (source
    carried through the projection, no join) and the rollup collapses
    map-side to dimension cardinality."""
    return clf_op.source_rollup(load(spark, "documents", sf_dir))


@register("zipf_lexical_stats", cstat_op.ZIPF_SQL)
def zipf_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary shape + least-squares Zipf exponent over the
    top-100 ranks (the corpus-health signal curation dashboards watch).
    Explode + vocab-cardinality groupBy (map-side partial collapse),
    within-source window ranking, closed-form regression on 1e-6-quantized
    ln values so both engines sum identical integers."""
    return cstat_op.zipf_lexical_stats(load(spark, "documents", sf_dir))


@register("source_overlap_matrix", cstat_op.SOURCE_OVERLAP_SQL())
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle-set Jaccard (provenance contamination matrix):
    distinct (source, shingle-hash) collapses the corpus to vocabulary
    scale, the self-join is keyed on shingle hash (pairs per shingle
    bounded by #sources^2), and the rollup lands at pair cardinality."""
    return cstat_op.source_overlap_matrix(load(spark, "documents", sf_dir))


@register("mixture_temperature_weights", cstat_op.MIXTURE_SQL)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source temperature-scaled (α=0.7) data-mixture sampling weights
    + expected epochs at a 1B-token budget. One source-cardinality groupBy
    with map-side partial collapse; normalization sums ride a 1-row
    broadcast; the pow() term is 1e-6-quantized so both engines normalize
    identical integers."""
    return cstat_op.mixture_temperature_weights(load(spark, "documents", sf_dir))


@register("bpe_pair_merge_counts", tok_op.BPE_PAIR_SQL)
def bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE induction round: top-20 adjacent character pairs by corpus
    frequency weighted by word count (Sennrich et al. 2016 inner loop).
    Corpus → vocab-cardinality word counts (Zipf head collapses map-side)
    → pair-cardinality agg → TakeOrdered top-N; the rank window runs on
    20 rows post-limit."""
    return tok_op.bpe_pair_merge_counts(load(spark, "documents", sf_dir))


@register("bigram_surprisal_quality", tok_op.BIGRAM_SURPRISAL_SQL)
def bigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own add-one-
    smoothed bigram LM — the CCNet perplexity filter one order above the
    unigram tier. Context table broadcasts; the bigram-count join is
    vocabulary-sized and left to AQE; every log term is 1e-9-quantized
    before summing."""
    return tok_op.bigram_surprisal_quality(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("trigram_backoff_quality", tok_op.TRIGRAM_BACKOFF_SQL)
def trigram_backoff_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 LM quality tier: per-document mean trigram stupid-backoff
    surprisal against a model built from the even-doc_id holdout half
    (so unseen trigrams genuinely back off through the
    trigram→suffix-bigram→add-one-unigram chain). Branch selection is
    NULL-presence (integer-exact); every log term 1e-9-quantized."""
    return tok_op.trigram_backoff_quality(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("lsh_candidates_horizon", dedup_op.LSH_HORIZON_SQL)
def lsh_candidates_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates restricted to the ingest horizon (|Δdoc| ≤ 60
    at 1 doc/min): the banded candidate join with a horizon predicate."""
    return dedup_op.lsh_candidates_horizon(load(spark, "documents", sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


@register("pagerank_lsh_graph", dedup_op.PAGERANK_SQL())
def pagerank_lsh_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected LSH candidate graph (duplicate-hub
    scoring, 3 iterations) — entirely integer arithmetic on a 1e-9
    fixed-point grid, so every iteration is bit-reproducible and the
    unrolled-CTE oracle matches exactly. One edge join + one node agg
    per round, linear lineage."""
    return dedup_op.pagerank_lsh_graph(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("weighted_sample_documents", cstat_op.WEIGHTED_SAMPLE_SQL())
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample (Efraimidis-Spirakis
    A-ES with hash uniforms, weight = token count): top-64 quantized
    log-keys ARE a weighted sample without replacement — reproducible
    on any cluster, mergeable across shards. Pure projection +
    TakeOrdered."""
    return cstat_op.weighted_sample_documents(load(spark, "documents", sf_dir))


@register("lsh_dedup_pr_eval", dedup_op.LSH_PR_SQL)
def lsh_dedup_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate tier against exact
    shingle-Jaccard ≥ 0.5 ground truth — the dedup ladder's analogue of
    the ANN recall evals (the number bands/rows are tuned against). Truth
    tier is eval-only — exact all-pairs Jaccard is O(n²) in the stratum,
    so at corpus scale it MUST run on a bounded sample; candidates reuse
    the production LSH plan."""
    return dedup_op.lsh_precision_recall(load(spark, "documents", sf_dir))


_FUNNEL_ORACLE = f"""
  WITH scored AS (
    SELECT doc_id, keep AS keep_q
    FROM ({clf_op.CLASSIFY_SQL.replace("ORDER BY doc_id", "")})
  ),
  canon AS (
    SELECT doc_id,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                THEN 1 ELSE 0 END AS keep_exact
    FROM documents
  ),
  sem AS (
    SELECT vec_id AS doc_id, 1 - is_dup AS keep_sem
    FROM ({sim_op.SEMDEDUP_SQL().replace("ORDER BY a.vec_id", "")})
  ),
  f AS (
    SELECT d.source, s.keep_q, c.keep_exact, m.keep_sem
    FROM documents d
    JOIN scored s ON s.doc_id = d.doc_id
    JOIN canon c ON c.doc_id = d.doc_id
    JOIN sem m ON m.doc_id = d.doc_id
  )
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(keep_q) AS BIGINT) AS n_quality,
         CAST(SUM(keep_q * keep_exact) AS BIGINT) AS n_quality_unique,
         CAST(SUM(keep_q * keep_exact * keep_sem) AS BIGINT) AS n_final
  FROM f GROUP BY source ORDER BY source
"""


@register("curation_funnel_multimodal", _FUNNEL_ORACLE)
def curation_funnel_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel over BOTH modalities: linear-classifier
    quality gate (text), exact content dedup (text), SemDeDup semantic
    dedup (embedding) — per-source survivor counts at each stage.

    Composition stays relational: the classifier is a scan projection,
    canonical-copy detection is one digest window, semantic dedup is the
    cell-bounded pair join; the three per-doc flags meet in doc_id-keyed
    joins and collapse to source cardinality. The funnel ordering
    (quality -> exact-dup -> semantic-dup) mirrors production pipelines
    where each stage prunes the next stage's input."""
    doc = load(spark, "documents", sf_dir)
    emb = load(spark, "embeddings", sf_dir)
    scored = clf_op.classify(doc, carry=["source"]).select(
        "doc_id", "source", F.col("keep").alias("keep_q")
    )
    canon = doc.select("doc_id", F.md5("text").alias("dg")).select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy("dg"))
        ).cast("int").alias("keep_exact"),
    )
    sem = sim_op.semantic_dedup(emb).select(
        F.col("vec_id").alias("doc_id"),
        (1 - F.col("is_dup")).alias("keep_sem"),
    )
    funnel = scored.join(canon, "doc_id").join(sem, "doc_id")
    return (
        funnel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep_q").alias("n_quality"),
            F.sum(F.col("keep_q") * F.col("keep_exact")).alias("n_quality_unique"),
            F.sum(
                F.col("keep_q") * F.col("keep_exact") * F.col("keep_sem")
            ).alias("n_final"),
        )
        .orderBy("source")
    )


_LANG_CONFUSION_SQL = f"""
  WITH preds AS ({_LANG_ID_SQL.replace("ORDER BY doc_id", "")}),
  cells AS (
    SELECT lang, lang_pred, COUNT(*) AS n FROM preds GROUP BY lang, lang_pred
  ),
  totals AS (SELECT lang, SUM(n) AS total FROM cells GROUP BY lang)
  SELECT c.lang, c.lang_pred, c.n,
         round(c.n / CAST(t.total AS DOUBLE), 9) AS frac_of_lang
  FROM cells c JOIN totals t ON t.lang = c.lang
  ORDER BY c.lang, c.lang_pred
"""


@register("lang_id_confusion_matrix", _LANG_CONFUSION_SQL)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: confusion matrix of the n-gram
    language-ID heuristic against the labeled lang column, with each
    cell's share of its true language (row-normalized recall view).
    Predictions stay scan-resident; the matrix is #langs^2-bounded, and
    the per-language totals re-aggregate from the matrix itself (no
    second corpus scan)."""
    preds = lang_id_heuristic(spark, sf_dir).select("lang", "lang_pred")
    cells = preds.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    totals = cells.groupBy("lang").agg(F.sum("n").alias("total"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.round(F.col("n") / F.col("total"), 9).alias("frac_of_lang"),
        )
        .orderBy("lang", "lang_pred")
    )


_FUZZY_ORACLE = """
  WITH names AS (
    SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY p_name
  ),
  blocked AS (
    SELECT p_name, n_parts, string_split(p_name, ' ')[-1] AS blk FROM names
  )
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev_dist,
         CAST(a.n_parts AS BIGINT) AS n_parts_a,
         CAST(b.n_parts AS BIGINT) AS n_parts_b
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 2
  ORDER BY name_a, name_b
"""


@register("fuzzy_name_match_pairs", _FUZZY_ORACLE)
def fuzzy_name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string join (entity resolution): near-identical part
    names within edit distance 2, candidate pairs generated by a
    blocking key (last name token) so the Levenshtein evaluation runs on
    block-bounded pairs, never all-pairs. The name table is pre-deduped
    with occurrence counts, so the expensive comparison runs at distinct-
    name cardinality — the standard blocking+verify entity-resolution
    shape, fully JVM-side (levenshtein is a codegen expression)."""
    part = load(spark, "part", sf_dir)
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    blocked = names.withColumn(
        "blk", F.element_at(F.split("p_name", " "), -1)
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_parts_b"),
        F.col("blk").alias("blk_b"),
    )
    pairs = a.join(
        b, (F.col("blk") == F.col("blk_b")) & (F.col("name_a") < F.col("name_b"))
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        pairs.filter(dist <= 2)
        .select(
            "name_a", "name_b",
            dist.cast("long").alias("lev_dist"),
            "n_parts_a", "n_parts_b",
        )
        .orderBy("name_a", "name_b")
    )


@register("cms_token_frequency", sketch_op.CMS_SQL())
def cms_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates for the corpus's true top-20
    tokens — the frequency member of the sketch family (distinct =
    KMV/HLL/theta, quantiles = grid-KLL, frequency = CMS). D=4 salted
    hash rows x W=1024 cells of conditional-sum state (partial-agg
    friendly; shards merge by cell-wise addition without rescanning);
    estimate = MIN over rows, one-sided (>= true) by construction.
    Deterministic hash -> the estimates are exactly oracled."""
    return sketch_op.cms_token_estimates(load(spark, "documents", sf_dir))


@register("multimodal_scene_changes", mm_op.SCENE_CHANGE_SQL)
def multimodal_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary (scene cut) detection analog: frame stream from the
    binary payload, lag-window head-statistic deltas, per-doc cut counts.
    The lag window and rollup share the frame explode's doc partitioning
    (one shuffle); decoded-histogram distances slot into the same plan
    when codecs exist."""
    return mm_op.scene_changes(
        mm_op.attach_binary_payload(load(spark, "documents", sf_dir))
    )


@register("contamination_span_report", cur_op.CONTAM_SPAN_SQL)
def contamination_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest verbatim shared span per (corpus doc, eval doc) pair —
    the positional (suffix-array-style) contamination tier that catches
    contiguous quotation where set-containment dilutes: diagonal islands
    over positional trigram matches, df-capped against boilerplate."""
    return cur_op.contamination_span_report(
        load(spark, "documents", sf_dir)
    ).orderBy("doc_id", "eval_doc_id")


@register("stratified_sample_per_source", cstat_op.STRATIFIED_SAMPLE_SQL())
def stratified_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum A-ES weighted sample (k docs per source): the
    deterministic eval-set construction primitive, two-phase top-k so no
    stratum ever needs a full sort. Bit-rerunnable on any cluster."""
    return cstat_op.stratified_sample_per_source(
        load(spark, "documents", sf_dir)
    ).orderBy("source", "rank")


@register("stratified_eval_split", cstat_op.STRATIFIED_SPLIT_SQL())
def stratified_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion stratified train/eval split: within each source,
    the first floor(n*pct/100) docs by a split-dedicated hash rank go to
    eval — integer arithmetic end-to-end, identical on every engine."""
    return cstat_op.stratified_eval_split(
        load(spark, "documents", sf_dir)
    ).orderBy("source", "strat_rank")


@register("dsir_importance_weights", cstat_op.DSIR_SQL())
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR log importance weights (hashed-bigram features, add-one
    smoothing, target = held-out eval stratum): the reweight-toward-
    target curation primitive, with per-bucket log-ratios quantized to
    an integer grid before the per-doc integer dot product."""
    return cstat_op.dsir_importance_weights(
        load(spark, "documents", sf_dir)
    ).orderBy("doc_id")


@register("containment_dup_pairs", dedup_op.CONTAINMENT_SQL)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (Broder) containment over the shared LSH candidate
    pairs: catches a short doc fully quoted inside a long one, which
    symmetric Jaccard dilutes. Exact shingle-set intersection, both
    directions, pair-bounded work."""
    return dedup_op.containment_dup_pairs(
        load(spark, "documents", sf_dir)
    ).orderBy("doc_a", "doc_b")


@register("ngram_novelty_scores", cur_op.NOVELTY_SQL)
def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-gram novelty: the share of a doc's distinct grams it
    introduces to the corpus (min-doc_id holder) — orders a crawl by
    contribution of genuinely new content."""
    return cur_op.ngram_novelty_scores(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


@register("oov_rate_scores", cur_op.OOV_SQL)
def oov_rate_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per doc against the corpus's own top-512
    word vocabulary (deterministic frequency/lexical ranking, broadcast
    back) — the tokenizer-coverage curation signal."""
    return cur_op.oov_rate_scores(load(spark, "documents", sf_dir)).orderBy(
        "doc_id"
    )


_TOKQ_ORACLE = """
    WITH s AS (
      SELECT source,
             LEAST(CAST(len(string_split(text, ' ')) AS BIGINT) // 8, 63) AS bucket,
             COUNT(*) AS cnt
      FROM documents GROUP BY 1, 2
    ), c AS (
      SELECT source, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM s
    )
    SELECT source, CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum >= (1 * n + 3) // 4
                         THEN (bucket + 1) * 8 END) AS BIGINT) AS p25_tokens,
           CAST(MIN(CASE WHEN cum >= (1 * n + 1) // 2
                         THEN (bucket + 1) * 8 END) AS BIGINT) AS p50_tokens,
           CAST(MIN(CASE WHEN cum >= (9 * n + 9) // 10
                         THEN (bucket + 1) * 8 END) AS BIGINT) AS p90_tokens
    FROM c GROUP BY source
    ORDER BY source
"""


@register("doc_token_quantiles_by_source", _TOKQ_ORACLE)
def doc_token_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles from the mergeable fixed-grid
    sketch (the KLL slot, reused from the price tier): token-count
    histogram at step 8, rank-crossing p25/p50/p90 per source — the
    'what does each source's length distribution look like' pass a
    mixture designer reads, at sketch (not corpus) cardinality."""
    docs = load(spark, "documents", sf_dir)
    sk = sketch_op.grid_quantile_sketch(
        docs, ["source"], "CAST(size(split(text, ' ')) AS BIGINT)", 8, 64
    )
    return sketch_op.grid_quantile_estimate(
        sk, ["source"],
        [("p25_tokens", 1, 4), ("p50_tokens", 1, 2), ("p90_tokens", 9, 10)],
        8,
    ).orderBy("source")


@register("bm25_keyword_topk", retr_op.BM25_SQL)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed keyword query — lexical
    retrieval beside the embedding ANN tiers (eval-set mining / corpus
    slicing). idf and per-term scores quantized at 1e6 so the per-doc
    reduction is an exact BIGINT sum; top-k via TakeOrdered, no global
    window over the scored frame."""
    return retr_op.bm25_topk(load(spark, "documents", sf_dir))


@register("pmi_collocations_topk", retr_op.PMI_SQL)
def pmi_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent-bigram collocations by 1e6-quantized PMI —
    tokenizer/merge-rule diagnostics (pairs BPE merge counts with an
    information-theoretic ranking). ln terms summed, never multiplied:
    no count-product overflow at any corpus size."""
    return retr_op.pmi_collocations(load(spark, "documents", sf_dir))


@register("char_trigram_entropy", retr_op.CHAR_TRIGRAM_ENTROPY_SQL)
def char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-trigram Shannon entropy (gibberish /
    template-spam screen) assembled from exact integer sums of quantized
    ln terms — one division at output."""
    return retr_op.char_trigram_entropy(load(spark, "documents", sf_dir))


@register("prefix_filter_jaccard_join", dedup_op.PREFIX_JACCARD_SQL)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 1/2 self-join via ppjoin-style prefix filtering —
    the deterministic-complete dedup tier beside MinHash-LSH: candidates
    key on each set's globally rarest tokens (skew-safe by construction),
    threshold compare integer-exact (3·inter ≥ sa+sb)."""
    return dedup_op.prefix_filter_jaccard_join(
        load(spark, "documents", sf_dir)
    ).orderBy("doc_a", "doc_b")


@register("lsh_band_bucket_stats", dedup_op.LSH_BAND_STATS_SQL)
def lsh_band_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-population skew monitor: bucket count, max
    bucket, candidate-pair mass Σk(k−1)/2, colliding buckets — the
    operational dashboard for the banding parameters at corpus scale."""
    return dedup_op.lsh_band_bucket_stats(load(spark, "documents", sf_dir))


@register("dedup_storage_savings", dedup_op.DEDUP_SAVINGS_SQL)
def dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source storage ledger for exact dedup (docs and characters
    removed keeping the min-doc_id canonical copy) — the 'what does
    dedup buy us' report a corpus owner reads before running it."""
    return dedup_op.dedup_storage_savings(load(spark, "documents", sf_dir))


@register("simhash_hamming_histogram", dedup_op.SIMHASH_HAMMING_HIST_SQL)
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance distribution over ALL band-colliding SimHash
    candidate pairs — the max_hamming tuning report (where the pair mass
    sits relative to the cutoff)."""
    return dedup_op.simhash_hamming_histogram(load(spark, "documents", sf_dir))


@register("dup_cluster_size_histogram", dedup_op.DUP_CLUSTER_HIST_SQL)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup connected components
    (recursive-CTE transitive-closure oracle) — the dedup shape report:
    giant components signal boilerplate, not duplication."""
    return dedup_op.dup_cluster_size_histogram(load(spark, "documents", sf_dir))


@register("lm_train_test_gap", tok_op.LM_TRAIN_TEST_GAP_SQL)
def lm_train_test_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trigram-LM generalization gap (train-half vs held-out
    surprisal) — the overfitting / distribution-shift eval beside the
    per-doc quality tier; shares the stupid-backoff scorer."""
    return tok_op.lm_train_test_gap(load(spark, "documents", sf_dir))


@register("minhash_calibration_curve", dedup_op.MINHASH_CALIBRATION_SQL)
def minhash_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean EXACT Jaccard per MinHash signature-match level over the LSH
    candidate pairs — the estimator-calibration curve that validates the
    k=8 signature width against ground truth."""
    return dedup_op.minhash_calibration_curve(load(spark, "documents", sf_dir))


@register("length_quality_correlation", clf_op.LENGTH_QUALITY_CORR_SQL)
def length_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson r between document length and the classifier's
    raw logit (exact integer moment sums; r assembled in identical
    doubles) — the length-bias audit before length-conditioned
    sampling."""
    return clf_op.length_quality_correlation(load(spark, "documents", sf_dir))


@register("incremental_dedup_ingest", dedup_op.INCREMENTAL_DEDUP_SQL)
def incremental_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB ingest shape end-to-end: the committed corpus's
    prefix-filter shingle index is persisted through the transactional
    snapshot sink (build-once), each new batch probes ONLY the index
    tables (prefix candidates → positional filter → exact verify), and
    non-duplicate survivors are union-committed back for the next
    batch. Warm invocations (driver-side source-file digest) skip every
    write and are pure probes. The DuckDB twin recomputes the exact
    jaccard ≥ 1/2 decision brute-force — the pruning is lossless, so
    the reports hash-match."""
    import hashlib
    import os as _q7os
    import tempfile as _q7tmp

    docs = load(spark, "documents", sf_dir)
    tag = hashlib.md5(_q7os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = f"{_q7tmp.gettempdir()}/cas_dedup_ingest/{tag}"
    return dedup_op.incremental_dedup_ingest(spark, docs, root).orderBy("doc_id")


@register("dedup_index_rebuild", dedup_op.INCREMENTAL_DEDUP_SQL)
def dedup_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance completion for the incremental dedup tier
    (r7 verdict #6): build/refresh the committed index, run the
    PERIODIC FULL REBUILD (re-rank every committed doc by current df —
    O(index) from the sets table's own shingle arrays, never rescanning
    corpus text — snapshot-commit, vacuum superseded generations,
    retain the pre-rebuild version for time travel), then re-probe the
    batch against the REBUILT index. The report must equal the
    pre-rebuild probe bit-exactly — the pruning is lossless at ≥ τ
    under any consistent rank order — so the same brute-force DuckDB
    twin oracles this query; rebuild-specific invariants (rebuilt index
    ≡ from-scratch build, time travel, vacuum reclamation) are locked
    by tests/test_index_rebuild.py."""
    import hashlib
    import os as _q8os
    import tempfile as _q8tmp

    docs = load(spark, "documents", sf_dir)
    tag = hashlib.md5(_q8os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = f"{_q8tmp.gettempdir()}/cas_dedup_rebuild/{tag}"
    dedup_op.incremental_dedup_ingest(spark, docs, root).count()
    dedup_op.dedup_index_rebuild(spark, root)
    return dedup_op.incremental_dedup_ingest(spark, docs, root).orderBy("doc_id")


@register("contamination_run_diff", cur_op.CONTAM_DIFF_SQL())
def contamination_run_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run eval-contamination diff: the span reporter run on the
    corpus before and after a re-curation gate, full-outer-joined per
    (doc, eval_doc) pair and classified removed/persisted/new — `new`
    pairs surface when re-curation drops a shared shingle under the
    corpus-relative df-cap, the regression this audit exists to catch."""
    docs = load(spark, "documents", sf_dir)
    return cur_op.contamination_run_diff(docs).orderBy("doc_id", "eval_doc_id")


_DISTINCT_NGRAM_TOPK = 5


_DISTINCTIVE_NGRAMS_SQL = f"""
  WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
  ),
  st AS (SELECT source, t, COUNT(*) AS c_s FROM tok GROUP BY 1, 2),
  tt AS (SELECT t, CAST(SUM(c_s) AS BIGINT) AS c_tot FROM st GROUP BY t),
  ns AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM st GROUP BY source),
  tot AS (SELECT CAST(SUM(c_tot) AS BIGINT) AS n_tot,
                 CAST(COUNT(*) AS BIGINT) AS v FROM tt),
  scored AS (
    SELECT st.source, st.t AS token, st.c_s,
           CAST(ROUND(ln(
             (CAST(st.c_s + 1 AS DOUBLE) * (tot.n_tot - ns.n_s + tot.v))
             / (CAST(ns.n_s + tot.v AS DOUBLE) * (tt.c_tot - st.c_s + 1))
           ) * 1000000000.0) AS BIGINT) AS logodds_n
    FROM st
    JOIN tt ON tt.t = st.t
    JOIN ns ON ns.source = st.source
    CROSS JOIN tot
  )
  SELECT source, rank, token, c_s, logodds_n FROM (
    SELECT source, token, c_s, logodds_n,
           row_number() OVER (PARTITION BY source
                              ORDER BY logodds_n DESC, token) AS rank
    FROM scored
  ) WHERE rank <= {_DISTINCT_NGRAM_TOPK}
  ORDER BY source, rank
"""


@register("distinctive_ngrams_by_source", _DISTINCTIVE_NGRAMS_SQL)
def distinctive_ngrams_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k distinctive tokens per source by smoothed log-odds against
    the rest of the corpus — the domain-signature report a mixture
    curator reads (what makes src7 different). The score is the log of
    an exact integer ratio (Laplace α = 1), quantized at 1e-9 before
    the per-source top-k window, so ranking is engine-identical. Plan:
    one (source, token) shuffle, vocab-cardinality token totals joined
    back (AQE picks the strategy), window at per-source cardinality."""
    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.sources.tables import fan_out

    docs = load(spark, "documents", sf_dir)
    tok = fan_out(docs).select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("t")
    )
    st = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c_s"))
    tt = st.groupBy("t").agg(F.sum("c_s").alias("c_tot"))
    ns = st.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    tot = tt.agg(
        F.sum("c_tot").alias("n_tot"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        st.join(tt, "t")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("t").alias("token"),
            "c_s",
            quantize(
                F.log(
                    (
                        (F.col("c_s") + 1).cast("double")
                        * (F.col("n_tot") - F.col("n_s") + F.col("v"))
                    )
                    / (
                        (F.col("n_s") + F.col("v")).cast("double")
                        * (F.col("c_tot") - F.col("c_s") + 1)
                    )
                ),
                1e9,
            ).alias("logodds_n"),
        )
    )
    w = W.partitionBy("source").orderBy(
        F.col("logodds_n").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _DISTINCT_NGRAM_TOPK)
        .select("source", "rank", "token", "c_s", "logodds_n")
        .orderBy("source", "rank")
    )


_LENGTH_MAD_SQL = """
  WITH med AS (
    SELECT source, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY source
  ),
  dev AS (
    SELECT d.doc_id, d.source, d.n_chars, d.n_chars - m.med AS dev
    FROM documents d JOIN med m ON m.source = d.source
  ),
  mad AS (
    SELECT source, quantile_cont(abs(dev), 0.5) AS mad FROM dev GROUP BY source
  )
  SELECT v.doc_id, v.source, v.n_chars, v.dev,
         CAST(abs(v.dev) > 3 * m.mad AS INT) AS is_outlier
  FROM dev v JOIN mad m ON m.source = v.source
  ORDER BY v.doc_id
"""


@register("length_outliers_mad", _LENGTH_MAD_SQL)
def length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length outliers: deviation from the source
    median and a 3×MAD gate — the scale-free outlier rule that survives
    the heavy tails mean/stddev gating dies on. Medians are exact
    interpolated percentiles of integers (devs land on the exact .0/.5
    grid — both engines interpolate identically, no float drift), and
    the per-source median tables broadcast back to the doc frame."""
    docs = load(spark, "documents", sf_dir)
    med = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "doc_id", "source", "n_chars",
        (F.col("n_chars") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(abs(dev), 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "source")
        .select(
            "doc_id", "source", "n_chars", "dev",
            (F.abs(F.col("dev")) > 3 * F.col("mad")).cast("int").alias("is_outlier"),
        )
        .orderBy("doc_id")
    )


_SIMHASH_BIT_BALANCE_SQL = f"""
  WITH bits AS (SELECT unnest(range(0, 16)) AS bit_pos)
  SELECT b.bit_pos,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM((f.simhash >> b.bit_pos) & 1) AS BIGINT) AS n_set,
         round(SUM((f.simhash >> b.bit_pos) & 1) / CAST(COUNT(*) AS DOUBLE), 9)
           AS balance
  FROM ({dedup_op.SIMHASH_SQL}) f, bits b
  GROUP BY b.bit_pos
  ORDER BY b.bit_pos
"""


@register("simhash_bit_balance_report", _SIMHASH_BIT_BALANCE_SQL)
def simhash_bit_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bit balance of the corpus SimHash fingerprints — the hash-
    quality audit behind the near-dup tier: a healthy SimHash has every
    bit near 50% set (skewed bits carry no discriminative information
    and inflate collision rates). Rides the existing fingerprint
    projection (shared simhash_fingerprints kernel, so the audit
    measures exactly the fingerprints the dedup tier uses); the 16-way
    bit explode runs on the doc-cardinality fingerprint frame, one
    partial-agg shuffle of 16 groups."""
    fp = dedup_op.simhash_fingerprints(load(spark, "documents", sf_dir))
    bits = spark.range(16).select(F.col("id").cast("long").alias("bit_pos"))
    j = fp.crossJoin(F.broadcast(bits)).select(
        "bit_pos",
        F.expr("shiftright(simhash, CAST(bit_pos AS INT)) & 1").alias("is_set"),
    )
    return (
        j.groupBy("bit_pos")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_set").alias("n_set"),
            F.round(F.sum("is_set") / F.count(F.lit(1)), 9).alias("balance"),
        )
        .orderBy("bit_pos")
    )


_NGRAM_COVERAGE_CUTS = (10, 100, 1000)


_NGRAM_COVERAGE_SQL = f"""
  WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS t FROM documents
  ),
  counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
  ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rk FROM counts
  ),
  tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot,
                 CAST(COUNT(*) AS BIGINT) AS v FROM counts)
  SELECT cut.cutoff,
         CAST(SUM(CASE WHEN r.rk <= cut.cutoff THEN r.c ELSE 0 END) AS BIGINT)
           AS covered_tokens,
         MIN(t.n_tot) AS total_tokens,
         MIN(t.v) AS vocab_size,
         round(SUM(CASE WHEN r.rk <= cut.cutoff THEN r.c ELSE 0 END)
               / CAST(MIN(t.n_tot) AS DOUBLE), 9) AS coverage
  FROM ranked r
  CROSS JOIN tot t
  CROSS JOIN (SELECT unnest(ARRAY{list(_NGRAM_COVERAGE_CUTS)}) AS cutoff) cut
  GROUP BY cut.cutoff
  ORDER BY cut.cutoff
"""


@register("ngram_coverage_curve", _NGRAM_COVERAGE_SQL)
def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of total token mass the
    top-N types cover at N ∈ {cuts} — the truncation curve a tokenizer/
    vocab-sizing pass reads (how big must the vocab be for 99%
    coverage). Ranking ties break on the token string, so the curve is
    engine-exact. The global rank window sorts the VOCAB frame (bounded
    — type counts, not token occurrences; documented single-sort), and
    each cutoff is a conditional aggregate over the same ranked frame —
    no per-cutoff rescans of the corpus."""
    from codex_africanus_spark.sources.tables import fan_out

    docs = load(spark, "documents", sf_dir)
    counts = (
        fan_out(docs)
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = counts.withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("c").desc(), F.col("t").asc()))
    )
    tot = counts.agg(
        F.sum("c").alias("n_tot"), F.count(F.lit(1)).alias("v")
    )
    cuts = local_frame(
        spark, [(c,) for c in _NGRAM_COVERAGE_CUTS], "cutoff long"
    )
    j = ranked.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(cuts))
    return (
        j.groupBy("cutoff")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("cutoff"), F.col("c")).otherwise(0))
            .alias("covered_tokens"),
            F.min("n_tot").alias("total_tokens"),
            F.min("v").alias("vocab_size"),
            F.round(
                F.sum(
                    F.when(F.col("rk") <= F.col("cutoff"), F.col("c")).otherwise(0)
                )
                / F.min("n_tot").cast("double"),
                9,
            ).alias("coverage"),
        )
        .orderBy("cutoff")
    )


_LEXDIV_SQL = """
  WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
  ),
  tc AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY 1, 2)
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         round(COUNT(*) / CAST(SUM(c) AS DOUBLE), 9) AS type_token_ratio,
         round(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 9) AS hapax_frac
  FROM tc GROUP BY source ORDER BY source
"""


@register("lexical_diversity_by_source", _LEXDIV_SQL)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: type-token ratio and hapax-
    legomenon fraction — the corpus-health metrics that expose
    template/boilerplate sources (low TTR) and OCR/noise sources (high
    hapax share). One (source, token) partial-agg shuffle, then a
    source-cardinality rollup; ratios are exact integer divisions."""
    from codex_africanus_spark.sources.tables import fan_out

    docs = load(spark, "documents", sf_dir)
    tc = (
        fan_out(docs)
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 9).alias(
                "type_token_ratio"
            ),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("hapax_frac"),
        )
        .orderBy("source")
    )


_WINNOW_SWEEP_WS = (2, 4, 8)


def _winnow_sweep_oracle() -> str:
    parts = []
    for w_ in _WINNOW_SWEEP_WS:
        sub = cur_op.winnowing_sql(w_).replace("ORDER BY doc_id, sel_pos", "")
        parts.append(
            f"""SELECT {w_} AS window_w,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
                   round(COUNT(*) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE), 6)
                     AS fp_per_doc
            FROM ({sub})"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY window_w"


@register("winnowing_density_sweep", _winnow_sweep_oracle())
def winnowing_density_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing window-size tuning sweep: fingerprint count and
    per-doc density at w ∈ {2, 4, 8} — the guarantee/storage trade
    curve (any ≥ w+2 word match is caught; expected density ≈ 2/(w+1))
    an operator reads before fixing the sketch budget. Reuses the
    parameterized winnowing kernel per level; each level is one window
    pass + sketch-cardinality distinct, unioned at 3-row cardinality."""
    docs = load(spark, "documents", sf_dir)
    outs = []
    for w_ in _WINNOW_SWEEP_WS:
        fp = cur_op.winnowing_fingerprints(docs, w_win=w_)
        outs.append(
            fp.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_fingerprints"),
            ).select(
                F.lit(w_).cast("long").alias("window_w"),
                "n_docs",
                "n_fingerprints",
                F.round(
                    F.col("n_fingerprints") / F.col("n_docs").cast("double"), 6
                ).alias("fp_per_doc"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("window_w")


_DUP_QUALITY_SQL = """
  WITH dig AS (
    SELECT doc_id, source,
           md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS dg,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
  ),
  grp AS (SELECT dg, COUNT(*) AS copies FROM dig GROUP BY dg)
  SELECT CASE WHEN g.copies > 1 THEN 'templated' ELSE 'unique' END AS cohort,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(d.n_tokens) AS BIGINT) AS n_tokens,
         round(SUM(d.n_tokens) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens,
         CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources
  FROM dig d JOIN grp g ON g.dg = d.dg
  GROUP BY 1 ORDER BY 1
"""


@register("template_cohort_quality", _DUP_QUALITY_SQL)
def template_cohort_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are template-opening documents systematically different? The
    curation sanity check behind boilerplate removal: docs sharing an
    identical 5-word OPENING (the scraped-template signature — much
    more common than full-text duplication) form the `templated`
    cohort, reported against the rest with token-mass and source-
    spread statistics (templated boilerplate is typically shorter and
    spans more sources — if not, blind template stripping deletes
    signal). One digest shuffle + cohort rollup."""
    docs = load(spark, "documents", sf_dir)
    dig = docs.select(
        "doc_id", "source",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))).alias("dg"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    grp = dig.groupBy("dg").agg(F.count(F.lit(1)).alias("copies"))
    return (
        dig.join(grp, "dg")
        .select(
            F.when(F.col("copies") > 1, F.lit("templated"))
            .otherwise(F.lit("unique"))
            .alias("cohort"),
            "n_tokens", "source",
        )
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)).cast("double"), 6).alias(
                "mean_tokens"
            ),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("cohort")
    )


_TOKLEN_HIST_SQL = """
  WITH tok AS (
    SELECT len(unnest(string_split(text, ' '))) AS tl FROM documents
  ),
  tot AS (SELECT COUNT(*) AS n FROM tok)
  SELECT LEAST(tl, 20) AS token_len,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(COUNT(*) / CAST(MIN(t.n) AS DOUBLE), 9) AS share
  FROM tok CROSS JOIN tot t
  GROUP BY LEAST(tl, 20)
  ORDER BY token_len
"""


@register("token_length_histogram", _TOKLEN_HIST_SQL)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution (capped at 20+) — the tokenizer-
    design diagnostic (long-tail lengths signal URLs/concatenations a
    pre-tokenizer should split). Pure explode + one ≤21-group agg with
    a 1-row broadcast total."""
    from codex_africanus_spark.sources.tables import fan_out

    docs = load(spark, "documents", sf_dir)
    tok = (
        fan_out(docs)
        .select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .select(F.least(F.length("t"), F.lit(20)).alias("token_len"))
    )
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    return (
        tok.crossJoin(F.broadcast(tot))
        .groupBy("token_len")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.count(F.lit(1)) / F.min("n").cast("double"), 9).alias("share"),
        )
        .orderBy("token_len")
    )


_QUALITY_DRIFT_SQL = """
  WITH q AS (
    SELECT source, doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           ntile(10) OVER (PARTITION BY source ORDER BY doc_id) AS decile
    FROM documents
  )
  SELECT source, decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         round(SUM(n_tokens) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_tokens
  FROM q GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("source_quality_drift", _QUALITY_DRIFT_SQL)
def source_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source quality drift: mean token mass by doc_id decile
    per source (ingest order proxies crawl time, so a trend across
    deciles flags a source whose quality degraded mid-crawl — the
    audit that catches silent scraper regressions). One per-source
    ntile window + a (source, decile) rollup."""
    docs = load(spark, "documents", sf_dir)
    q = docs.select(
        "source", "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.ntile(10).over(W.partitionBy("source").orderBy("doc_id")).alias("decile"),
    )
    return (
        q.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(F.sum("n_tokens") / F.count(F.lit(1)).cast("double"), 6).alias(
                "mean_tokens"
            ),
        )
        .orderBy("source", "decile")
    )


_CROSS_SOURCE_TEMPLATE_SQL = """
  WITH dig AS (
    SELECT doc_id, source,
           md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS dg
    FROM documents
  )
  SELECT LEAST(a.source, b.source) AS source_a,
         GREATEST(a.source, b.source) AS source_b,
         COUNT(*) AS n_pairs,
         CAST(COUNT(DISTINCT a.dg) AS BIGINT) AS n_templates
  FROM dig a JOIN dig b ON a.dg = b.dg AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  ORDER BY 1, 2
"""


@register("cross_source_template_matrix", _CROSS_SOURCE_TEMPLATE_SQL)
def cross_source_template_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which source PAIRS share templated openings — the syndication/
    mirror-site map (a scraped template appearing across many sources
    is the classic sign of content farms syndicating one feed): doc
    pairs sharing a 5-word opening digest, rolled up to an unordered
    source-pair matrix. Digest self-join keys on md5 (uniform, no
    skew), output at source² cardinality."""
    docs = load(spark, "documents", sf_dir)
    dig = docs.select(
        "doc_id", "source",
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 5))).alias("dg"),
    )
    a, b = dig.alias("a"), dig.alias("b")
    pairs = a.join(
        b,
        (F.col("a.dg") == F.col("b.dg")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.select(
            F.least(F.col("a.source"), F.col("b.source")).alias("source_a"),
            F.greatest(F.col("a.source"), F.col("b.source")).alias("source_b"),
            F.col("a.dg").alias("dg"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("dg").alias("n_templates"),
        )
        .orderBy("source_a", "source_b")
    )


_STOPWORD_PROFILE_SQL = f"""
  WITH d AS (
    SELECT lang,
           len(string_split(text, ' ')) AS n_tokens,
           (len(concat(' ', text, ' '))
            - len(replace(concat(' ', text, ' '), ' the ', ''))) / 5
           + (len(concat(' ', text, ' '))
              - len(replace(concat(' ', text, ' '), ' and ', ''))) / 5
             AS n_stop
    FROM documents WHERE len(string_split(text, ' ')) > 0
  )
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_stop) AS BIGINT) AS n_stopword_hits,
         round(SUM(n_stop) / CAST(SUM(n_tokens) AS DOUBLE), 9) AS stopword_rate
  FROM d GROUP BY lang ORDER BY lang
"""


@register("stopword_profile_by_lang", _STOPWORD_PROFILE_SQL)
def stopword_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-stopword incidence per labelled language — the lang-id
    cross-check (a 'zh'-labelled stratum with English stopword rates
    means mislabelled data): exact occurrence counts via the shared
    length-difference trick, rolled up per lang as ratios of exact
    integers."""
    docs = load(spark, "documents", sf_dir).filter(
        F.size(F.split(F.col("text"), " ")) > 0
    )
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    n_stop = (
        (F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit("")))) / 5
        + (F.length(padded) - F.length(F.replace(padded, F.lit(" and "), F.lit("")))) / 5
    )
    d = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        n_stop.cast("long").alias("n_stop"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_stop").alias("n_stopword_hits"),
            F.round(
                F.sum("n_stop") / F.sum("n_tokens").cast("double"), 9
            ).alias("stopword_rate"),
        )
        .orderBy("lang")
    )


@register("incremental_dedup_rank_drift", dedup_op.RANK_DRIFT_SQL)
def incremental_dedup_rank_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-maintenance audit: how far have the committed (frozen)
    df ranks drifted from a fresh full-rebuild ordering — per indexed
    doc, would its PREFIX (the candidate-join key set) differ? The
    changed fraction is the number a maintenance policy reads to
    schedule the periodic rebuild the incremental tier's frozen-rank
    contract assumes. Composes the warm ingest probe with one fresh
    rank derivation; the DuckDB twin replays both orderings
    relationally."""
    import hashlib
    import os as _q7os
    import tempfile as _q7tmp

    docs = load(spark, "documents", sf_dir)
    tag = hashlib.md5(_q7os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = f"{_q7tmp.gettempdir()}/cas_dedup_ingest/{tag}"
    return dedup_op.incremental_dedup_rank_drift(spark, docs, root)


def _rag_oracle() -> str:
    ivf = sim_op.IVF_SQL()  # full SELECT ... ORDER BY — embed as subquery
    return f"""
      SELECT t.query_id AS query_doc_id,
             dq.source AS query_source,
             t.rank, t.neighbor_id AS neighbor_doc_id,
             dn.source AS neighbor_source,
             len(string_split(dn.text, ' ')) AS neighbor_tokens,
             t.cosine_sim
      FROM ({ivf}) t
      JOIN documents dq ON dq.doc_id = t.query_id
      JOIN documents dn ON dn.doc_id = t.neighbor_id
      ORDER BY t.query_id, t.rank
    """


@register("rag_document_retrieval_topk", _rag_oracle())
def rag_document_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: an eval batch of DOCUMENTS retrieves
    its nearest corpus documents — doc → aligned embedding row → probe
    of the PERSISTED IVF index (warm path: index tables only) → top-k
    neighbor ids joined back to the document table for the human-
    readable result (source + length metadata). The cross-modal id
    join (doc_id = vec_id) and both document joins are broadcast at
    probe cardinality; exactly the serving pipeline a retrieval stack
    runs, with the whole chain hash-checked against the DuckDB replay."""
    import hashlib
    import os as _q7os
    import tempfile as _q7tmp

    emb = load(spark, "embeddings", sf_dir)
    docs = load(spark, "documents", sf_dir)
    tag = hashlib.md5(_q7os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = f"{_q7tmp.gettempdir()}/cas_ann_ivf/{tag}"  # shared with ann_ivf_persisted_topk
    sim_op._ensure_ivf_index(spark, emb, root)
    hits = sim_op.ivf_probe_topk(spark, root)
    dq = docs.select(
        F.col("doc_id").alias("query_doc_id"),
        F.col("source").alias("query_source"),
    )
    dn = docs.select(
        F.col("doc_id").alias("neighbor_doc_id"),
        F.col("source").alias("neighbor_source"),
        F.size(F.split(F.col("text"), " ")).alias("neighbor_tokens"),
    )
    return (
        hits.select(
            F.col("query_id").alias("query_doc_id"),
            "rank",
            F.col("neighbor_id").alias("neighbor_doc_id"),
            "cosine_sim",
        )
        .join(F.broadcast(dq), "query_doc_id")
        .join(F.broadcast(dn), "neighbor_doc_id")
        .select(
            "query_doc_id", "query_source", "rank", "neighbor_doc_id",
            "neighbor_source", "neighbor_tokens", "cosine_sim",
        )
        .orderBy("query_doc_id", "rank")
    )


_JACC_SWEEP_TAUS = ((1, 50), (1, 10), (3, 10), (1, 2))  # τ as exact rationals


def _jaccard_sweep_oracle() -> str:
    pair_sub = dedup_op.NGRAM_JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")
    rows = []
    for num, den in _JACC_SWEEP_TAUS:
        rows.append(
            f"""SELECT {num} AS tau_num, {den} AS tau_den,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped,
                   COALESCE(CAST(SUM(CAST(ROUND(n_common
                       / CAST(n_union AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT), 0)
                     AS jac_q_sum
            FROM ({pair_sub}) WHERE n_common * {den} >= {num} * n_union"""
        )
    body = " UNION ALL ".join(rows)
    return f"SELECT * FROM ({body}) ORDER BY tau_num * 1.0 / tau_den"


@register("jaccard_threshold_sweep", _jaccard_sweep_oracle())
def jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness tuning curve: at each exact-rational Jaccard
    threshold, how many probe pairs qualify and how many distinct docs
    the keep-lowest policy would drop — the curve a curator reads
    before fixing τ (too low deletes near-topical pairs, too high keeps
    templates). ONE pair computation (the stop-shingle-capped exact
    tier) feeds every threshold as integer-cross-multiplied conditional
    aggregates — no per-τ rescans."""
    # localCheckpoint, not persist(): one pair computation feeds four
    # thresholds, and checkpoint blocks auto-free on GC instead of
    # pinning the CacheManager for the session (r8 advice).
    pairs = dedup_op.ngram_jaccard_pairs(
        load(spark, "documents", sf_dir)
    ).localCheckpoint(eager=True)
    outs = []
    for num, den in _JACC_SWEEP_TAUS:
        sel = pairs.filter(
            F.col("n_common") * den >= num * F.col("n_union")
        )
        outs.append(
            sel.agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.countDistinct("doc_b").alias("n_docs_dropped"),
                F.coalesce(
                    F.sum(
                        F.round(
                            F.col("n_common") / F.col("n_union").cast("double")
                            * 1000000
                        ).cast("long")
                    ),
                    F.lit(0),
                ).alias("jac_q_sum"),
            ).select(
                F.lit(num).alias("tau_num"),
                F.lit(den).alias("tau_den"),
                "n_pairs",
                "n_docs_dropped",
                "jac_q_sum",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy(F.col("tau_num") / F.col("tau_den"))


_STITCH_K = 3  # boundary n-gram width (tokens)


_STITCH_SQL = f"""
  WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
    WHERE len(string_split(text, ' ')) >= {2 * _STITCH_K}
  ),
  pk AS (
    SELECT doc_id,
           array_to_string(w[1:{_STITCH_K}], ' ') AS pref,
           array_to_string(w[-{_STITCH_K}:], ' ') AS suff
    FROM t
  )
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.suff AS bridge
  FROM pk a JOIN pk b ON a.suff = b.pref AND a.doc_id <> b.doc_id
  ORDER BY doc_a, doc_b
"""


@register("suffix_prefix_stitch_pairs", _STITCH_SQL)
def suffix_prefix_stitch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary stitching: web-crawl extraction often splits
    one page into consecutive records, so a doc whose LAST k tokens
    equal another's FIRST k tokens is a continuation candidate (the
    pre-pass a document-rejoining curation stage runs before dedup).
    Equi-join on the boundary k-gram — hash-shuffle on the bridge key,
    never all-pairs; at corpus scale the bridge key is as selective as
    any shingle."""
    from codex_africanus_spark.sources.tables import fan_out

    docs = load(spark, "documents", sf_dir)
    t = fan_out(docs).withColumn("w", F.split("text", " ")).filter(
        F.size("w") >= 2 * _STITCH_K
    )
    pk = t.select(
        "doc_id",
        F.concat_ws(" ", F.slice("w", 1, _STITCH_K)).alias("pref"),
        F.concat_ws(" ", F.slice("w", -_STITCH_K, _STITCH_K)).alias("suff"),
    )
    a = pk.select(F.col("doc_id").alias("doc_a"), F.col("suff").alias("bridge"))
    b = pk.select(F.col("doc_id").alias("doc_b"), F.col("pref").alias("bridge"))
    return (
        a.join(b, "bridge")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", "bridge")
        .orderBy("doc_a", "doc_b")
    )


_DOMAIN_GINI_SQL = """
  WITH c AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
  ),
  s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS tot FROM c),
  d AS (
    SELECT CAST(SUM(ABS(a.n - b.n)) AS BIGINT) AS sum_abs
    FROM c a, c b
  )
  SELECT s.k AS n_sources, s.tot AS total_docs,
         CAST(ROUND(CAST(d.sum_abs AS DOUBLE) * 1000000.0
              / (2.0 * s.k * s.tot)) AS BIGINT) AS gini_ppm
  FROM s, d
"""


@register("domain_balance_gini", _DOMAIN_GINI_SQL)
def domain_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-source document distribution — the
    one-number domain-balance summary a mixture designer tracks
    (0 = perfectly balanced, →1 = one source dominates). Mean absolute
    difference over the k-row per-source count table (k² pairs of a
    DIM table — never corpus-scale); exact integers until the final
    ppm quantization."""
    from codex_africanus_spark.functions.deterministic import quantize

    c = load(spark, "documents", sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n")
    )
    s = c.agg(
        F.count(F.lit(1)).alias("n_sources"), F.sum("n").alias("total_docs")
    )
    d = (
        c.select(F.col("n").alias("na"))
        .crossJoin(c.select(F.col("n").alias("nb")))
        .agg(F.sum(F.abs(F.col("na") - F.col("nb"))).alias("sum_abs"))
    )
    return s.crossJoin(d).select(
        "n_sources",
        "total_docs",
        quantize(
            F.col("sum_abs").cast("double") * F.lit(1e6)
            / (F.lit(2.0) * F.col("n_sources") * F.col("total_docs")),
            1.0,
        ).alias("gini_ppm"),
    )


_MIX_TEMP_SQL = """
  WITH c AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
  ),
  w AS (
    SELECT *, CAST(ROUND(sqrt(CAST(n_docs AS DOUBLE)) * 1000000000) AS BIGINT)
      AS w_q
    FROM c
  ),
  t AS (SELECT CAST(SUM(w_q) AS BIGINT) AS wt, CAST(SUM(n_tokens) AS BIGINT) AS tok
        FROM w)
  SELECT w.source, w.n_docs, w.n_tokens,
         CAST(ROUND(CAST(w.w_q AS DOUBLE) / t.wt * 1000000.0) AS BIGINT)
           AS weight_ppm,
         CAST(ROUND(CAST(w.w_q AS DOUBLE) / t.wt * t.tok) AS BIGINT)
           AS budget_tokens
  FROM w, t ORDER BY w.source
"""


@register("mixture_temperature_reweighting", _MIX_TEMP_SQL)
def mixture_temperature_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture reweighting w_s ∝ n_s^(1/2) (α = 0.5,
    the standard multilingual/multi-domain up-sampling temperature):
    per-source sampling weight and the token budget each source gets
    under the reweighted mixture. sqrt is IEEE-correctly-rounded
    (identical cross-engine, no quantize-before needed); weights
    quantize at 1e-9, shares at ppm — all ratios of identical ints."""
    from codex_africanus_spark.functions.deterministic import quantize

    c = load(spark, "documents", sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = c.withColumn(
        "w_q", quantize(F.sqrt(F.col("n_docs").cast("double")), 1e9)
    )
    t = w.agg(F.sum("w_q").alias("wt"), F.sum("n_tokens").alias("tok"))
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "source", "n_docs", "n_tokens",
            quantize(
                F.col("w_q").cast("double") / F.col("wt") * F.lit(1e6), 1.0
            ).alias("weight_ppm"),
            quantize(
                F.col("w_q").cast("double") / F.col("wt") * F.col("tok"), 1.0
            ).alias("budget_tokens"),
        )
        .orderBy("source")
    )


_TOKENS_PER_BYTE_SQL = """
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
         CAST(ROUND(CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
              * 1000000.0 / SUM(n_chars)) AS BIGINT) AS tokens_per_mb_byte
  FROM documents GROUP BY source ORDER BY source
"""


@register("tokens_per_byte_by_source", _TOKENS_PER_BYTE_SQL)
def tokens_per_byte_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-byte by source — the compression-proxy quality signal
    (low tokens/byte = long repetitive strings or binary junk; high =
    terse natural text) and the conversion factor every token-budget
    planner needs per domain. Exact integer sums; the rate is a ratio
    of identical ints on the ppm grid."""
    from codex_africanus_spark.functions.deterministic import quantize

    return (
        load(spark, "documents", sf_dir)
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            F.sum("n_chars").alias("n_bytes"),
        )
        .select(
            "source", "n_tokens", "n_bytes",
            quantize(
                F.col("n_tokens").cast("double") * F.lit(1e6) / F.col("n_bytes"),
                1.0,
            ).alias("tokens_per_mb_byte"),
        )
        .orderBy("source")
    )


# LSH (bands, rows) planner table: detection probability 1-(1-s^r)^b at
# each observed-jaccard decile midpoint, precomputed in Python to ppm
# integers — both engines consume identical literals, and the expected
# counts are pure integer arithmetic.
_LSH_PLANNER_ROWS = [(4, 8, 0, 0), (4, 8, 1, 1), (4, 8, 2, 61), (4, 8, 3, 900), (4, 8, 4, 6709), (4, 8, 5, 33075), (4, 8, 6, 121494), (4, 8, 7, 344229), (4, 8, 8, 719873), (4, 8, 9, 987166), (8, 4, 0, 50), (8, 4, 1, 4043), (8, 4, 2, 30826), (8, 4, 3, 113930), (8, 4, 4, 284637), (8, 4, 5, 535938), (8, 4, 6, 792588), (8, 4, 7, 952315), (8, 4, 8, 997275), (8, 4, 9, 999999), (16, 2, 0, 39259), (16, 2, 1, 305186), (16, 2, 2, 643926), (16, 2, 3, 876418), (16, 2, 4, 973227), (16, 2, 5, 996862), (16, 2, 6, 999847), (16, 2, 7, 999998), (16, 2, 8, 1000000), (16, 2, 9, 1000000)]


def _lsh_planner_oracle() -> str:
    pair_sub = dedup_op.NGRAM_JACCARD_SQL.replace("ORDER BY doc_a, doc_b", "")
    values = ", ".join(
        "(%d, %d, %d, %d)" % (b, r, d, p) for b, r, d, p in _LSH_PLANNER_ROWS
    )
    return f"""
      WITH pairs AS (
        SELECT n_common, n_union FROM ({pair_sub})
      ),
      deciles AS (
        SELECT LEAST(9, CAST(FLOOR(n_common * 10.0 / n_union) AS BIGINT)) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
      ),
      planner(b, r, decile, detect_ppm) AS (
        VALUES {values}
      )
      SELECT p.b, p.r, d.decile, d.n_pairs,
             CAST(p.detect_ppm AS BIGINT) AS detect_ppm,
             (d.n_pairs * p.detect_ppm) // 1000000 AS expected_detected
      FROM deciles d JOIN planner p ON p.decile = d.decile
      ORDER BY p.b, p.r, d.decile
    """


@register("lsh_params_planner", _lsh_planner_oracle())
def lsh_params_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands, rows) parameter planner grounded in THIS corpus: the
    observed exact-jaccard pair distribution (decile histogram) crossed
    with the S-curve detection probability 1-(1-s^r)^b of each candidate
    banding — the expected caught/missed pair counts a curator reads
    before fixing (b, r). Probabilities are Python-precomputed ppm
    integers (identical literals both engines); expected counts are
    integer products — no float crosses the engine boundary."""
    pairs = dedup_op.ngram_jaccard_pairs(load(spark, "documents", sf_dir))
    deciles = (
        pairs.select(
            F.least(
                F.lit(9),
                F.floor(F.col("n_common") * 10.0 / F.col("n_union")),
            ).cast("long").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    planner = local_frame(
        spark, _LSH_PLANNER_ROWS, "b int, r int, decile long, detect_ppm long"
    )
    return (
        deciles.join(F.broadcast(planner), "decile")
        .select(
            "b", "r", "decile", "n_pairs", "detect_ppm",
            F.expr("n_pairs * detect_ppm DIV 1000000").alias("expected_detected"),
        )
        .orderBy("b", "r", "decile")
    )


_CROSS_LANG_DUP_SQL = """
  SELECT md5(text) AS digest,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
         MIN(doc_id) AS first_doc
  FROM documents
  GROUP BY md5(text)
  HAVING COUNT(DISTINCT lang) > 1
  ORDER BY first_doc
"""


@register("duplicate_text_cross_lang", _CROSS_LANG_DUP_SQL)
def duplicate_text_cross_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical text filed under DIFFERENT language labels — the
    lang-id mislabel detector (a byte-identical doc cannot be in two
    languages; one of the labels is wrong, and downstream per-language
    mixtures double-count it). Digest groupBy + label-cardinality
    filter; output is mislabel-cardinality, never corpus-scale."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5("text").alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_langs") > 1)
        .orderBy("first_doc")
    )


_RELIABILITY_SQL = f"""
  WITH scored AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           {{BIAS}} + list_sum(list_transform(string_split(text, ' '), t ->
             {{WARR}}[
               CAST(({{HASH}} % {{HASHP}}) % {{NB}} AS INT) + 1
             ])) AS raw_score
    FROM documents
  ),
  q AS (
    SELECT doc_id,
           CAST(ROUND(round(0.5 + 0.5 * (raw_score / ({{WS}}.0 * n_tokens))
                 / (1.0 + abs(raw_score / ({{WS}}.0 * n_tokens))), 9)
                 * 1000000000) AS BIGINT) AS q9,
           CASE WHEN n_uniq * 10 >= n_tokens * 6 THEN 1 ELSE 0 END AS gold
    FROM scored
  )
  SELECT LEAST(q9 // 100000000, 9) AS bin,
         COUNT(*) AS n_docs,
         CAST(SUM(gold) AS BIGINT) AS n_gold,
         CAST(SUM(q9) AS BIGINT) // (COUNT(*) * 1000) AS conf_ppm,
         (CAST(SUM(gold) AS BIGINT) * 1000000) // COUNT(*) AS acc_ppm,
         abs(CAST(SUM(q9) AS BIGINT) // (COUNT(*) * 1000)
             - (CAST(SUM(gold) AS BIGINT) * 1000000) // COUNT(*)) AS gap_ppm,
         COUNT(*) * abs(CAST(SUM(q9) AS BIGINT) // (COUNT(*) * 1000)
             - (CAST(SUM(gold) AS BIGINT) * 1000000) // COUNT(*)) AS ece_term
  FROM q GROUP BY bin ORDER BY bin
"""


def _reliability_oracle() -> str:
    from codex_africanus_spark.functions.text import HASH_P, hash60_sql
    from codex_africanus_spark.operators import classifier as clf

    return (
        _RELIABILITY_SQL
        .replace("{BIAS}", str(clf.BIAS))
        .replace("{WARR}", clf._weights_array_sql())
        .replace("{HASH}", hash60_sql("t"))
        .replace("{HASHP}", str(HASH_P))
        .replace("{NB}", str(clf.N_BUCKETS))
        .replace("{WS}", str(clf._WSCALE))
    )


@register("classifier_reliability_bins", _reliability_oracle())
def classifier_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the hashed linear quality classifier:
    documents bin by score decile; per bin the mean confidence (ppm) is
    compared against the empirical rate of an INDEPENDENT quality proxy
    (duplicate-token fraction <= 0.4). |conf - acc| per bin is the
    reliability-diagram gap; n*gap is the bin's ECE term. All integer
    arithmetic on the already-bit-exact q9 scores — one scan, one
    10-row aggregation."""
    from codex_africanus_spark.operators import classifier as clf

    docs = load(spark, "documents", sf_dir)
    scored = clf.classify(docs, carry=["text"])
    q9 = F.round(F.col("quality_score") * 1000000000).cast("long")
    toks = F.split("text", " ")
    gold = (F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 6).cast("int")
    d = scored.select(
        q9.alias("q9"), gold.alias("gold")
    ).select(
        F.least(F.expr("q9 DIV 100000000"), F.lit(9).cast("long")).alias("bin"),
        "q9",
        "gold",
    )
    conf = F.expr("SUM(q9) DIV (COUNT(*) * 1000)")
    acc = F.expr("(SUM(gold) * 1000000) DIV COUNT(*)")
    return (
        d.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("gold").alias("n_gold"),
            conf.alias("conf_ppm"),
            acc.alias("acc_ppm"),
            F.abs(conf - acc).alias("gap_ppm"),
            (F.count(F.lit(1)) * F.abs(conf - acc)).alias("ece_term"),
        )
        .orderBy("bin")
    )


_RAG_TERMS = ("table", "spark", "value")


_RAG_BUDGET = 256


_RAG_PACK_ORACLE = f"""
  WITH terms AS (
    SELECT UNNEST(['{_RAG_TERMS[0]}', '{_RAG_TERMS[1]}', '{_RAG_TERMS[2]}'])
      AS query_term
  ),
  scored AS (
    SELECT t.query_term, d.doc_id,
           len(list_filter(string_split(d.text, ' '), x -> x = t.query_term))
             AS tf,
           len(string_split(d.text, ' ')) AS n_tokens
    FROM documents d, terms t
  ),
  ranked AS (
    SELECT query_term, doc_id, tf, n_tokens,
           row_number() OVER (PARTITION BY query_term
                              ORDER BY tf DESC, doc_id) AS rank,
           SUM(n_tokens) OVER (PARTITION BY query_term
                               ORDER BY tf DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM scored WHERE tf > 0
  )
  SELECT query_term, rank, doc_id, tf, n_tokens,
         CAST(cum_tokens AS BIGINT) AS cum_tokens
  FROM ranked WHERE cum_tokens <= {_RAG_BUDGET}
  ORDER BY query_term, rank
"""


@register("rag_context_packing", _RAG_PACK_ORACLE)
def rag_context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context-window assembly: per query term, candidate documents
    rank by term frequency and pack greedily until the token budget
    ({budget} tokens) is exhausted — the retrieve->rerank->pack tail of
    a RAG serving stack as one ranked-window pass. Output is
    budget-bounded (never corpus-scale); at 100 TB the tf>0 filter
    prunes to the posting list before the per-query window sorts
    it.""".format(budget=_RAG_BUDGET)
    docs = load(spark, "documents", sf_dir)
    terms = local_frame(spark, [(t,) for t in _RAG_TERMS], "query_term string")
    toks = F.split(F.col("text"), " ")
    scored = docs.crossJoin(F.broadcast(terms)).select(
        "query_term",
        "doc_id",
        F.size(F.filter(toks, lambda x: x == F.col("query_term"))).alias("tf"),
        F.size(toks).alias("n_tokens"),
    ).filter(F.col("tf") > 0)
    w = W.partitionBy("query_term").orderBy(F.desc("tf"), "doc_id")
    ranked = scored.select(
        "query_term",
        "doc_id",
        "tf",
        "n_tokens",
        F.row_number().over(w).alias("rank"),
        F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum_tokens"),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= _RAG_BUDGET)
        .select("query_term", "rank", "doc_id", "tf", "n_tokens", "cum_tokens")
        .orderBy("query_term", "rank")
    )


# Curation rule set (integer predicates only — cross-engine exact):
#   R_len:  100 <= n_chars <= 2000
#   R_dup:  unique-token ratio >= 0.6           (10*uniq >= 6*total)
#   R_stop: stopword share >= 5%                (20*stop >= total)
#   R_wlen: mean word length in [3, 8]          (letters = chars - spaces)
_ABLATION_SQL = """
  WITH feats AS (
    SELECT source,
           CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 0 ELSE 1 END AS f_len,
           CASE WHEN len(list_distinct(string_split(text, ' '))) * 10
                     >= len(string_split(text, ' ')) * 6 THEN 0 ELSE 1 END AS f_dup,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> t IN ('the', 'a'))) * 20
                     >= len(string_split(text, ' ')) THEN 0 ELSE 1 END AS f_stop,
           CASE WHEN (n_chars - (len(string_split(text, ' ')) - 1))
                       BETWEEN 3 * len(string_split(text, ' '))
                           AND 8 * len(string_split(text, ' '))
                THEN 0 ELSE 1 END AS f_wlen
    FROM documents
  )
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(f_len) AS BIGINT) AS fail_len,
         CAST(SUM(f_dup) AS BIGINT) AS fail_dup,
         CAST(SUM(f_stop) AS BIGINT) AS fail_stop,
         CAST(SUM(f_wlen) AS BIGINT) AS fail_wlen,
         CAST(SUM(CASE WHEN f_len = 1 AND f_dup + f_stop + f_wlen = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
         CAST(SUM(CASE WHEN f_dup = 1 AND f_len + f_stop + f_wlen = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_dup,
         CAST(SUM(CASE WHEN f_stop = 1 AND f_len + f_dup + f_wlen = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_stop,
         CAST(SUM(CASE WHEN f_wlen = 1 AND f_len + f_dup + f_stop = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_wlen,
         CAST(SUM(CASE WHEN f_len + f_dup + f_stop + f_wlen = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
  FROM feats GROUP BY source ORDER BY source
"""


@register("filter_rule_ablation_matrix", _ABLATION_SQL)
def filter_rule_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-rule ablation: per source, how many documents each
    quality rule rejects, how many ONLY that rule rejects (its unique
    kill count — the number a tuner would recover by relaxing just it),
    and the survivors. The standard report for tuning a Gopher/C4-style
    rule stack; all four rules are integer predicates riding one scan."""
    docs = load(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    nt = F.size(toks)
    f_len = (~F.col("n_chars").between(100, 2000)).cast("int")
    f_dup = (F.size(F.array_distinct(toks)) * 10 < nt * 6).cast("int")
    f_stop = (
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))) * 20 < nt
    ).cast("int")
    letters = F.col("n_chars") - (nt - 1)
    f_wlen = (~letters.between(3 * nt, 8 * nt)).cast("int")
    feats = docs.select(
        "source",
        f_len.alias("f_len"),
        f_dup.alias("f_dup"),
        f_stop.alias("f_stop"),
        f_wlen.alias("f_wlen"),
    )
    only = lambda me, others: F.sum(
        F.when((F.col(me) == 1) & (sum(F.col(o) for o in others) == 0), 1).otherwise(0)
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_len").alias("fail_len"),
            F.sum("f_dup").alias("fail_dup"),
            F.sum("f_stop").alias("fail_stop"),
            F.sum("f_wlen").alias("fail_wlen"),
            only("f_len", ["f_dup", "f_stop", "f_wlen"]).alias("only_len"),
            only("f_dup", ["f_len", "f_stop", "f_wlen"]).alias("only_dup"),
            only("f_stop", ["f_len", "f_dup", "f_wlen"]).alias("only_stop"),
            only("f_wlen", ["f_len", "f_dup", "f_stop"]).alias("only_wlen"),
            F.sum(
                F.when(
                    F.col("f_len") + F.col("f_dup") + F.col("f_stop") + F.col("f_wlen") == 0,
                    1,
                ).otherwise(0)
            ).alias("pass_all"),
        )
        .orderBy("source")
    )


_AV_STRIDE, _AV_HOP = 128, 96


_AV_ALIGN_ORACLE = f"""
  WITH frames AS (
    SELECT d.doc_id, CAST(t.j AS INT) AS frame_idx,
           CAST(t.j AS BIGINT) * {_AV_STRIDE} AS f_start
    FROM documents d,
         unnest(generate_series(0,
           CAST((octet_length(encode(d.text)) + {_AV_STRIDE - 1})
                // {_AV_STRIDE} AS INT) - 1)) AS t(j)
  ),
  wins AS (
    SELECT d.doc_id, CAST(t.j AS INT) AS win,
           CAST(t.j AS BIGINT) * {_AV_HOP} AS a_start
    FROM documents d,
         unnest(generate_series(0,
           CAST((octet_length(encode(d.text)) + {_AV_HOP - 1})
                // {_AV_HOP} AS INT) - 1)) AS t(j)
  )
  SELECT f.doc_id, f.frame_idx, f.f_start,
         MAX(w.win) AS win,
         MAX(w.a_start) AS a_start,
         f.f_start - MAX(w.a_start) AS lag_bytes
  FROM frames f
  JOIN wins w ON w.doc_id = f.doc_id AND w.a_start <= f.f_start
  GROUP BY f.doc_id, f.frame_idx, f.f_start
  ORDER BY f.doc_id, f.frame_idx
"""


@register("multimodal_av_align_asof", _AV_ALIGN_ORACLE)
def multimodal_av_align_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV-sync alignment: every sampled video frame pairs with the
    LATEST audio window starting at or before it (as-of backward
    match at incommensurate rates — stride 128 vs hop 96 — so the lag
    walks a sawtooth the way real container timestamps drift). The
    curation op behind audio-visual training pairs; here both streams
    derive from the byte payload, and the alignment is a doc-local
    argmax join (co-partitioned on the asset id at any scale; the
    generic irregular-timestamp form is operators/asof.py)."""
    from codex_africanus_spark.operators import multimodal as mm

    docs = load(spark, "documents", sf_dir)
    p = mm.attach_binary_payload(docs).select(
        "doc_id", F.octet_length("payload").alias("nb")
    )
    nf = ((F.col("nb") + _AV_STRIDE - 1) / _AV_STRIDE).cast("int")
    # filter(nb > 0): F.sequence(0, -1) is the DESCENDING pair [0, -1] in
    # Spark while DuckDB generate_series(0, -1) is empty — a zero-length
    # payload must emit no frame/window rows on either side.
    frames = p.filter(F.col("nb") > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nf - 1)).alias("frame_idx"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("frame_idx").cast("long") * _AV_STRIDE).alias("f_start"),
    )
    nw = ((F.col("nb") + _AV_HOP - 1) / _AV_HOP).cast("int")
    wins = p.filter(F.col("nb") > 0).select(
        "doc_id", F.explode(F.sequence(F.lit(0), nw - 1)).alias("win")
    ).select(
        "doc_id", "win", (F.col("win").cast("long") * _AV_HOP).alias("a_start")
    )
    j = frames.join(
        wins,
        (frames.doc_id == wins.doc_id) & (wins.a_start <= frames.f_start),
    ).select(frames.doc_id, "frame_idx", "f_start", "win", "a_start")
    return (
        j.groupBy("doc_id", "frame_idx", "f_start")
        .agg(F.max("win").alias("win"), F.max("a_start").alias("a_start"))
        .select(
            "doc_id", "frame_idx", "f_start", "win", "a_start",
            (F.col("f_start") - F.col("a_start")).alias("lag_bytes"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@register("heldout_perplexity_topk", tok_op.HELDOUT_PPL_SQL)
def heldout_perplexity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram LM perplexity scoring (r9): stupid-backoff trigram
    LM trained on the hash-selected half, every held-out document scored
    in bits-per-token, worst 200 emitted with ranks — the CCNet-style
    perplexity filter artifact a curation pass consumes. Distributed
    top-k (TakeOrderedAndProject), never a global window."""
    return tok_op.heldout_perplexity_topk(load(spark, "documents", sf_dir))


@register("heaps_law_vocab_growth", cstat_op.HEAPS_LAW_SQL)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth across ten ingest-order corpus
    prefixes plus the fitted exponent b (V = k n^b) — the corpus-health
    number that collapses when a crawl starts re-ingesting duplicates.
    Exact integer cumulative counts; ln on the 1e-6 grid; slope a
    9dp-rounded exact-integer ratio (the zipf_lexical_stats
    discipline)."""
    return cstat_op.heaps_law_vocab_growth(load(spark, "documents", sf_dir))


_FRAME_DEDUP_SQL = f"""
  WITH p AS (
    SELECT doc_id, text, len(text) AS nc FROM documents WHERE len(text) > 0
  ),
  frames AS (
    SELECT doc_id, i AS frame_idx,
           {text_fn.hash60_sql("substring(text, i * 128 + 1, 64)")} AS fp
    FROM (SELECT doc_id, text,
                 unnest(generate_series(0, (nc + 127) // 128 - 1)) AS i
          FROM p)
  ),
  grp AS (
    SELECT fp, COUNT(*) AS n_frames, COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM frames GROUP BY fp
    HAVING COUNT(*) >= 2
  ),
  ranked AS (
    SELECT *, row_number() OVER (ORDER BY n_frames DESC, fp) AS rank
    FROM grp
  )
  SELECT rank, fp, n_frames, n_docs, min_doc
  FROM ranked WHERE rank <= 100 ORDER BY rank
"""


@register("multimodal_frame_dedup", _FRAME_DEDUP_SQL)
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-asset duplicate-frame detection (r9): sample a fixed
    64-unit window every 128 units of each payload (the video
    frame-sampling shape — intros/outros/logos repeat across assets),
    fingerprint each frame, and report the 100 most-duplicated frames
    with their asset spread. Frames here are character windows (DuckDB
    cannot slice BLOBs; the byte-window plumbing is identical), the
    fingerprint is the engine-portable 60-bit md5 prefix, and the top-k
    runs as distributed TakeOrderedAndProject — never a global window
    over the frame table. At 100 TB the frame table is the big
    intermediate; it collapses map-side into fingerprint groups."""
    docs = load(spark, "documents", sf_dir).filter(F.length("text") > 0)
    nf = ((F.length("text") + 127) / 128).cast("int")
    frames = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nf - 1)).alias("frame_idx"),
        "text",
    ).select(
        "doc_id",
        text_fn.hash60(
            F.expr("substring(text, frame_idx * 128 + 1, 64)")
        ).alias("fp"),
    )
    grp = (
        frames.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_frames") >= 2)
    )
    top = grp.orderBy(F.col("n_frames").desc(), "fp").limit(100)
    return (
        top.withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("n_frames").desc(), "fp")),
        )
        .select("rank", "fp", "n_frames", "n_docs", "min_doc")
        .orderBy("rank")
    )


_QD_INTERACTION_SQL = """
  WITH flags AS (
    SELECT doc_id, source,
           CASE WHEN n_chars BETWEEN 100 AND 2000
                 AND len(list_distinct(string_split(text, ' '))) * 10
                     >= len(string_split(text, ' ')) * 6
                THEN 1 ELSE 0 END AS q_pass,
           CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                THEN 0 ELSE 1 END AS is_dup
    FROM documents
  )
  SELECT source,
         CAST(SUM(q_pass * (1 - is_dup)) AS BIGINT)       AS uniq_pass,
         CAST(SUM(q_pass * is_dup) AS BIGINT)             AS dup_pass,
         CAST(SUM((1 - q_pass) * (1 - is_dup)) AS BIGINT) AS uniq_fail,
         CAST(SUM((1 - q_pass) * is_dup) AS BIGINT)       AS dup_fail,
         CAST(SUM(is_dup * q_pass) * 1000000 AS BIGINT)
           // GREATEST(CAST(SUM(q_pass) AS BIGINT), 1)    AS dup_share_of_pass_ppm
  FROM flags GROUP BY source ORDER BY source
"""


@register("quality_vs_dedup_interaction", _QD_INTERACTION_SQL)
def quality_vs_dedup_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter x duplicate-status contingency table per source —
    the curation diagnostic that decides pipeline ORDER (dedup-first
    pipelines waste quality compute on duplicates when dup_share_of_pass
    is high; quality-first wastes hashing on junk when dup_fail
    dominates). Duplicate status is exact-hash canonical-min; the
    quality rule is the ablation matrix's integer length+uniqueness
    predicate. Pure integer cross-tab — one scan, one window over the
    text-hash partition, one aggregate."""
    docs = load(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    q_pass = (
        F.col("n_chars").between(100, 2000)
        & (F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 6)
    ).cast("int")
    is_dup = (
        F.col("doc_id")
        != F.min("doc_id").over(W.partitionBy(F.md5(F.col("text"))))
    ).cast("int")
    flags = docs.select(
        "source", q_pass.alias("q_pass"), is_dup.alias("is_dup")
    )
    return (
        flags.groupBy("source")
        .agg(
            F.sum(F.col("q_pass") * (1 - F.col("is_dup"))).alias("uniq_pass"),
            F.sum(F.col("q_pass") * F.col("is_dup")).alias("dup_pass"),
            F.sum((1 - F.col("q_pass")) * (1 - F.col("is_dup"))).alias("uniq_fail"),
            F.sum((1 - F.col("q_pass")) * F.col("is_dup")).alias("dup_fail"),
        )
        .select(
            "source", "uniq_pass", "dup_pass", "uniq_fail", "dup_fail",
            F.expr(
                "dup_pass * 1000000 DIV GREATEST(dup_pass + uniq_pass, 1)"
            ).alias("dup_share_of_pass_ppm"),
        )
        .orderBy("source")
    )


@register("paragraph_minhash_dedup", dedup_op.PARA_MINHASH_SQL)
def paragraph_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-grain MinHash dedup (r9 verdict candidate 4, the CCNet
    shape): sentence-grain units, per-unit 8-permutation MinHash, LSH
    banding, cross-document ≥6/8-signature duplicates keep-first, per-
    source dup census (see operators/dedup.paragraph_minhash_dedup)."""
    return dedup_op.paragraph_minhash_dedup(load(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# r10: duplicate-rate ingest curve — the dedup-planning companion of
# heaps_law_vocab_growth: as the corpus ingests (doc_id order), what
# fraction of each decile is an exact duplicate of anything EARLIER?
# A rising curve says dedup must run continuously (the incremental
#-ingest tier); a flat one says batch dedup suffices. First occurrence
# per content digest is a map-side MIN; everything after the digest
# collapse is integer arithmetic at decile grain.
# ---------------------------------------------------------------------------

_DUP_CURVE_SQL = """
  WITH firsts AS (
    SELECT doc_id, md5(text) AS dg FROM documents
  ),
  canon AS (
    SELECT dg, MIN(doc_id) AS first_id FROM firsts GROUP BY dg
  ),
  bounds AS (SELECT MAX(doc_id) AS mx FROM documents),
  flagged AS (
    SELECT CAST((f.doc_id * 10) // (b.mx + 1) AS INT) AS decile,
           CASE WHEN f.doc_id > c.first_id THEN 1 ELSE 0 END AS is_dup
    FROM firsts f JOIN canon c ON c.dg = f.dg, bounds b
  ),
  per AS (
    SELECT decile, COUNT(*) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups
    FROM flagged GROUP BY decile
  )
  SELECT decile, n_docs, n_dups,
         CAST(SUM(n_dups) OVER w AS BIGINT) AS cum_dups,
         CAST((SUM(n_dups) OVER w) * 1000000 // (SUM(n_docs) OVER w)
              AS BIGINT) AS cum_dup_ppm
  FROM per
  WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
  ORDER BY decile
"""


@register("dedup_rate_ingest_curve", _DUP_CURVE_SQL)
def dedup_rate_ingest_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per ingest decile with the cumulative curve
    (see _DUP_CURVE_SQL). Fact work: one digest-grain MIN + one decile
    rollup; the window runs on ≤ 10 rows."""
    docs = load(spark, "documents", sf_dir)
    firsts = docs.select("doc_id", F.md5(F.col("text")).alias("dg"))
    canon = firsts.groupBy("dg").agg(F.min("doc_id").alias("first_id"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    flagged = (
        firsts.join(canon, "dg")
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST((doc_id * 10) DIV (mx + 1) AS INT)").alias("decile"),
            (F.col("doc_id") > F.col("first_id")).cast("int").alias("is_dup"),
        )
    )
    per = flagged.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return per.select(
        "decile", "n_docs", "n_dups",
        F.sum("n_dups").over(w).cast("long").alias("cum_dups"),
        F.expr(
            "CAST(SUM(n_dups) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) * 1000000 DIV "
            "SUM(n_docs) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS BIGINT)"
        ).alias("cum_dup_ppm"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# r10: AV sync-drift report — per asset, the LINEAR TREND of the as-of
# alignment lag across the frame series (multimodal_av_align_asof's
# sawtooth): a container whose audio clock drifts shows a nonzero
# slope; a merely-offset one shows intercept without slope. Least
# squares on exact integer moments (x = frame_idx, y = lag_bytes);
# only the final slope/intercept ratios touch floats (identical
# int-derived doubles, 1e-6-quantized).
# ---------------------------------------------------------------------------

_AV_DRIFT_ORACLE = f"""
  WITH frames AS (
    SELECT d.doc_id, CAST(t.j AS INT) AS frame_idx,
           CAST(t.j AS BIGINT) * {_AV_STRIDE} AS f_start
    FROM documents d,
         unnest(generate_series(0,
           CAST((octet_length(encode(d.text)) + {_AV_STRIDE - 1})
                // {_AV_STRIDE} AS INT) - 1)) AS t(j)
  ),
  wins AS (
    SELECT d.doc_id, CAST(t.j AS BIGINT) * {_AV_HOP} AS a_start
    FROM documents d,
         unnest(generate_series(0,
           CAST((octet_length(encode(d.text)) + {_AV_HOP - 1})
                // {_AV_HOP} AS INT) - 1)) AS t(j)
  ),
  lagged AS (
    SELECT f.doc_id, f.frame_idx, f.f_start - MAX(w.a_start) AS lag_bytes
    FROM frames f
    JOIN wins w ON w.doc_id = f.doc_id AND w.a_start <= f.f_start
    GROUP BY f.doc_id, f.frame_idx, f.f_start
  ),
  mom AS (
    SELECT doc_id, COUNT(*) AS n,
           CAST(SUM(frame_idx) AS BIGINT) AS sx,
           CAST(SUM(lag_bytes) AS BIGINT) AS sy,
           CAST(SUM(CAST(frame_idx AS BIGINT) * frame_idx) AS BIGINT) AS sxx,
           CAST(SUM(frame_idx * lag_bytes) AS BIGINT) AS sxy,
           CAST(MAX(lag_bytes) AS BIGINT) AS max_lag
    FROM lagged GROUP BY doc_id
  )
  SELECT doc_id, n, max_lag,
         CASE WHEN n * sxx - sx * sx > 0
              THEN CAST(ROUND((n * sxy - sx * sy)
                   / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0) AS BIGINT)
                   / 1000000.0
              ELSE CAST(0.0 AS DOUBLE) END AS slope_q6
  FROM mom ORDER BY doc_id
"""


@register("av_sync_drift_report", _AV_DRIFT_ORACLE)
def av_sync_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset AV sync-drift slope from the as-of lag series (see
    _AV_DRIFT_ORACLE). Rides the av_align as-of machinery; report grain
    = one row per asset."""
    from codex_africanus_spark.functions.deterministic import quantize
    from codex_africanus_spark.operators import multimodal as mm

    docs = load(spark, "documents", sf_dir)
    p = mm.attach_binary_payload(docs).select(
        "doc_id", F.octet_length("payload").alias("nb")
    )
    nf = ((F.col("nb") + _AV_STRIDE - 1) / _AV_STRIDE).cast("int")
    frames = p.filter(F.col("nb") > 0).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nf - 1)).alias("frame_idx"),
    ).select(
        "doc_id", "frame_idx",
        (F.col("frame_idx").cast("long") * _AV_STRIDE).alias("f_start"),
    )
    nw = ((F.col("nb") + _AV_HOP - 1) / _AV_HOP).cast("int")
    wins = p.filter(F.col("nb") > 0).select(
        "doc_id", F.explode(F.sequence(F.lit(0), nw - 1)).alias("win")
    ).select(
        "doc_id", (F.col("win").cast("long") * _AV_HOP).alias("a_start")
    )
    lagged = (
        frames.join(
            wins,
            (frames.doc_id == wins.doc_id)
            & (wins.a_start <= frames.f_start),
        )
        .select(frames.doc_id, "frame_idx", "f_start", "a_start")
        .groupBy("doc_id", "frame_idx", "f_start")
        .agg((F.col("f_start") - F.max("a_start")).alias("lag_bytes"))
    )
    mom = lagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("frame_idx").cast("long").alias("sx"),
        F.sum("lag_bytes").cast("long").alias("sy"),
        F.sum(F.col("frame_idx").cast("long") * F.col("frame_idx"))
        .cast("long").alias("sxx"),
        F.sum(F.col("frame_idx") * F.col("lag_bytes")).cast("long")
        .alias("sxy"),
        F.max("lag_bytes").cast("long").alias("max_lag"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    slope = quantize(num / det.cast("double"), 1e6) / F.lit(1e6)
    return mom.select(
        "doc_id", "n", "max_lag",
        F.when(det > 0, slope).otherwise(F.lit(0.0)).alias("slope_q6"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# r10: near-dup transitive-chaining audit — the dedup-quality question
# aggressive fuzzy dedup always raises: how much of each cluster is
# held together only TRANSITIVELY (A~B, B~C but A and C never matched)?
# High transitive share = chaining risk (CC-based dedup can fuse
# unrelated docs through a bridge doc — the MinHashLSH caveat every
# CCNet/RefinedWeb-style pipeline audits). Per cluster size: clusters,
# possible pairs s(s−1)/2, DIRECT LSH candidate pairs, and the
# transitive-only share in ppm. Composes the two existing exact
# oracles (clusters + pairs) as subqueries; all-integer.
# ---------------------------------------------------------------------------

_CHAIN_AUDIT_ORACLE = f"""
  WITH cc AS (
    SELECT doc_id, cluster_id, cluster_size
    FROM ({dedup_op.NEAR_DUP_CLUSTERS_SQL})
  ),
  direct AS (
    SELECT p.doc_a, c.cluster_id
    FROM ({dedup_op.MINHASH_LSH_SQL}) p
    JOIN cc c ON c.doc_id = p.doc_a
  ),
  per_cluster AS (
    SELECT c.cluster_id, MAX(c.cluster_size) AS s,
           (SELECT COUNT(*) FROM direct d WHERE d.cluster_id = c.cluster_id)
             AS n_direct
    FROM cc c WHERE c.cluster_size > 1
    GROUP BY c.cluster_id
  )
  SELECT s AS cluster_size,
         COUNT(*) AS n_clusters,
         CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS possible_pairs,
         CAST(SUM(n_direct) AS BIGINT) AS direct_pairs,
         CAST(SUM(s * (s - 1) // 2 - n_direct) * 1000000
              // SUM(s * (s - 1) // 2) AS BIGINT) AS transitive_ppm
  FROM per_cluster
  GROUP BY s ORDER BY s
"""


@register("near_dup_chain_audit", _CHAIN_AUDIT_ORACLE)
def near_dup_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-vs-direct pair census per near-dup cluster size (see
    _CHAIN_AUDIT_ORACLE). Reuses the registered cluster and pair
    operators; the audit itself runs at cluster cardinality."""
    docs = load(spark, "documents", sf_dir)
    cc = dedup_op.near_dup_clusters(docs).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    direct = (
        dedup_op.minhash_lsh_pairs(docs)
        .select("doc_a")
        .join(cc.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_direct"))
    )
    per_cluster = (
        cc.filter(F.col("cluster_size") > 1)
        .groupBy("cluster_id")
        .agg(F.max("cluster_size").alias("s"))
        .join(direct, "cluster_id", "left")
        .select(
            "s", F.coalesce(F.col("n_direct"), F.lit(0)).alias("n_direct")
        )
    )
    return (
        per_cluster.groupBy(F.col("s").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.expr("s * (s - 1) DIV 2")).cast("long")
            .alias("possible_pairs"),
            F.sum("n_direct").cast("long").alias("direct_pairs"),
            F.expr(
                "CAST(SUM(s * (s - 1) DIV 2 - n_direct) * 1000000 "
                "DIV SUM(s * (s - 1) DIV 2) AS BIGINT)"
            ).alias("transitive_ppm"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# r10: cross-source NEAR-dup contamination matrix — the fuzzy-level
# sibling of source_overlap_matrix (which counts exact shingle
# overlap): how many MinHash near-dup pairs cross each (source_a,
# source_b) boundary, and what fraction of the smaller source is
# contaminated. The inter-source dedup-policy signal (e.g. CC dumps vs
# curated sets) pipelines check before mixing sources.
# ---------------------------------------------------------------------------

_XSOURCE_FUZZY_ORACLE = f"""
  WITH pairs AS (
    SELECT doc_a, doc_b FROM ({dedup_op.MINHASH_LSH_SQL})
    WHERE n_sig_match >= 6
  ),
  tagged AS (
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
  ),
  sizes AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
  SELECT t.source_a, t.source_b, t.n_pairs,
         CAST(t.n_pairs * 1000000 // LEAST(sa.n_docs, sb.n_docs) AS BIGINT)
           AS contamination_ppm
  FROM tagged t
  JOIN sizes sa ON sa.source = t.source_a
  JOIN sizes sb ON sb.source = t.source_b
  ORDER BY t.source_a, t.source_b
"""


@register("cross_source_fuzzy_matrix", _XSOURCE_FUZZY_ORACLE)
def cross_source_fuzzy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair with the
    smaller-source contamination rate in ppm (see
    _XSOURCE_FUZZY_ORACLE). Reuses the registered LSH pair operator;
    the matrix is #source-pairs rows."""
    docs = load(spark, "documents", sf_dir)
    pairs = dedup_op.minhash_lsh_pairs(docs).filter(
        F.col("n_sig_match") >= 6
    ).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"),
                       F.col("source").alias("sa")), "doc_a")
        .join(
            src.select(F.col("doc_id").alias("doc_b"),
                       F.col("source").alias("sb")), "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tagged.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n_docs").alias("na"))), "source_a")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n_docs").alias("nb"))), "source_b")
        .select(
            "source_a", "source_b", "n_pairs",
            F.expr(
                "CAST(n_pairs * 1000000 DIV LEAST(na, nb) AS BIGINT)"
            ).alias("contamination_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# r11: corpus composition rollup — the per-(source, lang) token/char
# census a training-data mixing report leads with, plus per-source and
# global margins from one Expand plan (`df.rollup`). Token counting
# reuses the whitespace tokenizer contract (split on runs of
# whitespace) expressed as pure SQL on both engines so the rollup stays
# entirely JVM-side — no Python in the fact path.
# ---------------------------------------------------------------------------

_CORPUS_ROLLUP_ORACLE = """
    WITH d AS (
      SELECT source, lang, n_chars,
             CAST(length(regexp_replace(trim(text), '\\s+', ' ', 'g')) -
                  length(regexp_replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '', 'g'))
                  + CASE WHEN trim(text) = '' THEN 0 ELSE 1 END AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT
      CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS src,
      CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END     AS language,
      CAST(GROUPING_ID(source, lang) AS INT)                    AS gid,
      COUNT(*)                                                  AS n_docs,
      CAST(SUM(n_chars) AS BIGINT)                              AS chars_sum,
      CAST(SUM(n_tokens) AS BIGINT)                             AS tokens_sum,
      CASE WHEN SUM(n_tokens) = 0 THEN CAST(-1 AS BIGINT)
           ELSE CAST(SUM(n_chars) * 1000000 // SUM(n_tokens) AS BIGINT)
           END                                                     AS chars_per_token_ppm
    FROM d
    GROUP BY ROLLUP(source, lang)
    ORDER BY gid, src, language
"""


@register("corpus_rollup_source_lang", _CORPUS_ROLLUP_ORACLE)
def corpus_rollup_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus census with rollup margins in one
    Expand plan (see the section comment)."""
    docs = load(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    n_tokens = (
        F.length(norm) - F.length(F.regexp_replace(norm, " ", ""))
        + F.when(F.trim(F.col("text")) == "", 0).otherwise(1)
    ).cast("long")
    d = docs.select("source", "lang", "n_chars", n_tokens.alias("n_tokens"))
    return (
        d.rollup("source", "lang")
        .agg(
            F.grouping("source").alias("g_s"),
            F.grouping("lang").alias("g_l"),
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum("n_tokens").cast("long").alias("tokens_sum"),
        )
        .select(
            F.when(F.col("g_s") == 1, F.lit("ALL"))
            .otherwise(F.col("source")).alias("src"),
            F.when(F.col("g_l") == 1, F.lit("ALL"))
            .otherwise(F.col("lang")).alias("language"),
            "gid", "n_docs", "chars_sum", "tokens_sum",
            F.expr(
                "CASE WHEN tokens_sum = 0 THEN CAST(-1 AS BIGINT) "
                "ELSE CAST(chars_sum * 1000000 DIV tokens_sum AS BIGINT) END"
            ).alias("chars_per_token_ppm"),
        )
        .orderBy("gid", "src", "language")
    )

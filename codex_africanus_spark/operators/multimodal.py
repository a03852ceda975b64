"""Multimodal (binary) column plumbing for training-data pipelines.

Images/audio/video are carried as opaque BINARY columns with typed
metadata. The Spark-side plumbing — schema, Arrow batching via
mapInPandas, partition-sized batches, UDF signatures — is real and
tested; the actual media decode is STUBBED (no image/audio libs in this
container): `decode_image` raises NotImplementedError unless
`fake=True`, in which case a deterministic header parse stands in for
the decoder so the pipeline shape can be exercised end-to-end.

At 100 TB: binary payloads dominate row size, so the scan must prune
payload bytes unless the operator needs them (`select` metadata columns
only → parquet never materializes the blob); decode fans out via
mapInPandas with `spark.sql.execution.arrow.maxRecordsPerBatch` tuned
down so a batch of blobs fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, head_byte int, fake_width int, fake_height int"
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Demo payload: utf-8 bytes of the text column as an opaque blob
    (stands in for an image column; the plumbing is format-agnostic)."""
    return docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int]:
    """STUB: real deployments plug a codec here (PIL/libvips/ffmpeg).
    The deterministic fake derives (width, height) from payload bytes."""
    if not fake:
        raise NotImplementedError(
            "media codecs are not available in this container; pass fake=True "
            "for the deterministic stand-in decoder"
        )
    n = len(payload)
    return (n % 640 + 1, (n * 7) % 480 + 1)


def decode_metadata(with_payload: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched decode: mapInPandas over (doc_id, payload) batches.

    Output is a typed metadata frame; the blob does not survive the
    operator (column pruned immediately after decode).
    """

    # NOTE: the batch fn must be a self-contained closure — referencing
    # module-level names would make cloudpickle serialize them by module
    # reference, and executor Python workers cannot import this package
    # (it is not shipped via addPyFile). Keep the decode logic inline.
    if not fake:
        raise NotImplementedError(
            "media codecs are not available in this container; pass fake=True "
            "for the deterministic stand-in decoder"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def _decode(p: bytes) -> tuple[int, int]:
            n = len(p)
            return (n % 640 + 1, (n * 7) % 480 + 1)

        for pdf in it:
            payloads = pdf["payload"]
            dims = [_decode(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "head_byte": payloads.map(lambda b: b[0] if len(b) else -1),
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return with_payload.mapInPandas(batches, DECODED_SCHEMA)


# DuckDB mirror of the deterministic fake decode (for oracle parity)
DECODE_META_SQL = """
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT)            AS n_bytes,
         CAST(ascii(substr(text, 1, 1)) AS INT)                AS head_byte,
         CAST(octet_length(encode(text)) % 640 + 1 AS INT)     AS fake_width,
         CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS fake_height
  FROM documents ORDER BY doc_id
"""


def frame_sample(with_payload: DataFrame, frame_size: int = 64, stride: int = 128) -> DataFrame:
    """Frame sampling over a binary payload (video frame-sample analog):
    emit a fixed-size window every `stride` bytes with typed metadata.

    Pure JVM expressions — the payload windows come from substring on the
    binary column (exploded positions), so frame extraction stays in
    codegen; only the (stubbed) decode of each frame would use Arrow.
    """
    n_frames = (F.octet_length(F.col("payload")) + stride - 1) / stride
    idx = F.explode(F.sequence(F.lit(0), n_frames.cast("int") - 1)).alias("frame_idx")
    df = with_payload.select("doc_id", "payload", idx)
    frame = F.expr(f"substring(payload, frame_idx * {stride} + 1, {frame_size})")
    return df.select(
        "doc_id",
        "frame_idx",
        F.octet_length(frame).cast("int").alias("frame_bytes"),
        F.ascii(frame.cast("string")).cast("int").alias("frame_head"),
    )


FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, distinct_bytes int, entropy_milli long, "
    "printable_ratio_milli long"
)


def extract_features(with_payload: DataFrame) -> DataFrame:
    """Byte-level feature extraction over binary payloads — REAL (no
    codec needed): byte-histogram Shannon entropy, printable ratio,
    distinct-byte count. The content-quality signals a training-data
    pipeline uses to separate text from binary junk before decode.

    mapInPandas + NumPy bincount per payload; ratios quantized to
    integer millis so results are engine/partition independent."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (executors cannot import this package)
        import numpy as np

        def feats(p: bytes):
            if not p:
                return (0, 0, 0, 0)
            a = np.frombuffer(p, dtype=np.uint8)
            counts = np.bincount(a, minlength=256)
            nz = counts[counts > 0]
            prob = nz / len(a)
            ent = float(-(prob * np.log2(prob)).sum())
            printable = int(((a >= 32) & (a < 127)).sum())
            return (
                len(a),
                int((counts > 0).sum()),
                int(round(ent * 1000.0)),
                int(round(printable * 1000.0 / len(a))),
            )

        for pdf in it:
            rows = [feats(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [r[0] for r in rows],
                    "distinct_bytes": [r[1] for r in rows],
                    "entropy_milli": [r[2] for r in rows],
                    "printable_ratio_milli": [r[3] for r in rows],
                }
            )

    return with_payload.mapInPandas(batches, FEATURES_SCHEMA)


# DuckDB substring() does not accept BLOB: frame length is pure integer
# arithmetic and the head byte reads the (ASCII) text directly.
FRAME_SAMPLE_SQL = """
  SELECT d.doc_id,
         CAST(t.j AS INT) AS frame_idx,
         CAST(GREATEST(0, LEAST(64, octet_length(encode(d.text)) - CAST(t.j AS INT) * 128)) AS INT) AS frame_bytes,
         CAST(ascii(substring(d.text, CAST(t.j AS INT) * 128 + 1, 1)) AS INT) AS frame_head
  FROM documents d,
       unnest(generate_series(0, CAST((octet_length(encode(d.text)) + 127) // 128 AS INT) - 1)) AS t(j)
  ORDER BY d.doc_id, frame_idx
"""


AUDIO_WINDOW_SCHEMA = (
    "doc_id long, win int, n_bytes int, sum_b long, sumsq_b long, peak int"
)


def audio_window_stats(
    with_payload: DataFrame, window: int = 256, hop: int = 128
) -> DataFrame:
    """Overlapping fixed-hop windowing over a binary payload — the audio
    analogue of frame_sample (hop < window ⇒ each byte lands in up to
    window/hop frames, the STFT-style segmentation a speech pipeline
    feeds to its featurizer). The decode-free per-window statistics
    (byte count, sum, energy/sum-of-squares, peak) are pure integers,
    so results are engine- and partition-exact with no quantization.

    Arrow-batched mapInPandas (NumPy frombuffer per window); the real
    featurizer (mel/MFCC — audio libs absent here) would slot into the
    same batch loop.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained closure (executors cannot import this package)
        import numpy as np

        def stats(p: bytes):
            a = np.frombuffer(p, dtype=np.uint8).astype(np.int64)
            n = len(a)
            out = []
            w = 0
            while w * hop < n:
                seg = a[w * hop : w * hop + window]
                out.append(
                    (w, len(seg), int(seg.sum()), int((seg * seg).sum()),
                     int(seg.max()) if len(seg) else 0)
                )
                w += 1
            return out

        for pdf in it:
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for w, nb, sb, sq, pk in stats(p):
                    rows.append((doc_id, w, nb, sb, sq, pk))
            yield pd.DataFrame(
                rows, columns=["doc_id", "win", "n_bytes", "sum_b", "sumsq_b", "peak"]
            )

    return with_payload.mapInPandas(batches, AUDIO_WINDOW_SCHEMA)


SCENE_CHANGE_SQL = """
  WITH frames AS (
    SELECT d.doc_id,
           CAST(t.j AS INT) AS frame_idx,
           CAST(ascii(substring(d.text, CAST(t.j AS INT) * 128 + 1, 1)) AS INT)
             AS frame_head
    FROM documents d,
         unnest(generate_series(0,
           CAST((octet_length(encode(d.text)) + 127) // 128 AS INT) - 1)) AS t(j)
  ),
  deltas AS (
    SELECT doc_id, frame_idx, frame_head,
           abs(frame_head - lag(frame_head) OVER (
             PARTITION BY doc_id ORDER BY frame_idx)) AS delta
    FROM frames
  )
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_frames,
         CAST(COUNT(CASE WHEN delta >= 8 THEN 1 END) AS BIGINT) AS n_cuts,
         CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_delta
  FROM deltas GROUP BY doc_id ORDER BY doc_id
"""


def scene_changes(with_payload: DataFrame, threshold: int = 8) -> DataFrame:
    """Shot-boundary detection analog over the frame stream: a frame
    whose head-byte statistic jumps >= threshold versus the previous
    frame is a cut candidate (real deployments swap the head-byte stat
    for a decoded frame histogram distance inside the same plan). The
    lag window shares the frame explode's doc partitioning — one
    doc-keyed shuffle covers windowing and the per-doc rollup; integer
    arithmetic end to end."""
    from pyspark.sql import Window as W

    frames = frame_sample(with_payload)
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    deltas = frames.withColumn(
        "delta", F.abs(F.col("frame_head") - F.lag("frame_head").over(w))
    )
    return (
        deltas.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.count(F.when(F.col("delta") >= threshold, 1)).alias("n_cuts"),
            F.coalesce(F.max("delta"), F.lit(0)).cast("long").alias("max_delta"),
        )
        .orderBy("doc_id")
    )

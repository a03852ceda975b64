"""Multimodal feature-extract stage (decode-free tier)."""

import numpy as np

from codex_africanus_spark.operators import multimodal as mm
from codex_africanus_spark.sources.tables import load


def test_extract_features_matches_numpy(spark, sf_dir):
    """Backend equivalence (SURVEY §5 item 5): Spark mapInPandas vs
    direct NumPy over the same payload bytes."""
    docs = load(spark, "documents", sf_dir).limit(50)
    got = {
        r.doc_id: (r.n_bytes, r.distinct_bytes, r.entropy_milli, r.printable_ratio_milli)
        for r in mm.extract_features(mm.attach_binary_payload(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        p = row.text.encode("utf-8")
        a = np.frombuffer(p, dtype=np.uint8)
        counts = np.bincount(a, minlength=256)
        prob = counts[counts > 0] / len(a)
        ent = int(round(float(-(prob * np.log2(prob)).sum()) * 1000))
        printable = int(round(int(((a >= 32) & (a < 127)).sum()) * 1000 / len(a)))
        assert got[row.doc_id] == (len(p), int((counts > 0).sum()), ent, printable)


def test_entropy_separates_text_from_noise(spark):
    """The feature does its job: uniform-noise payloads score near 8
    bits; English-like text well below."""
    rng = np.random.default_rng(3)
    rows = [
        (1, bytes(rng.integers(0, 256, 4096, dtype=np.uint8))),
        (2, (b"the quick brown fox jumps over the lazy dog " * 100)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r.entropy_milli for r in mm.extract_features(df).collect()}
    assert out[1] > 7800 and out[2] < 5000

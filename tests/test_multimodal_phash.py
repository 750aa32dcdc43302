"""Invariants for the perceptual-hash media-dedup path (rows-only in the
catalog): signature determinism, identical-payload identity, near-dup
recall under truncation, and band-cover exactness at small Hamming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_and_processing_spark.operators.multimodal import (
    attach_binary_payload,
    perceptual_hash_signatures,
    phash_neardup_pairs,
)
from data_integration_and_processing_spark.queries.catalog import all_specs

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    from data_integration_and_processing_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def test_signatures_are_deterministic(spark, docs):
    p = attach_binary_payload(docs)
    a = {r.id: r.sig for r in perceptual_hash_signatures(p).collect()}
    b = {r.id: r.sig for r in perceptual_hash_signatures(p).collect()}
    assert a == b and len(a) == docs.count()
    assert all(s >= 0 for s in a.values())  # 63-bit: signed-long safe


def test_identical_payloads_pair_at_hamming_zero(spark, docs):
    copies = docs.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    corpus = attach_binary_payload(docs.unionByName(copies))
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_neardup_pairs(corpus, max_hamming=0).collect()
    }
    n = docs.count()
    exact = [(i, i + 200000) for i in range(n) if (i, i + 200000) in pairs]
    assert len(exact) == n  # every copy found, banding covers hamming 0 exactly
    assert all(pairs[(i, i + 200000)] == 0 for i, _ in exact)


def test_truncation_twins_mostly_recalled(spark, docs):
    words = F.split("text", " ")
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 1, F.greatest(F.size(words) - 2, F.lit(1)))).alias(
            "text"
        ),
    )
    corpus = attach_binary_payload(docs.unionByName(twins))
    got = phash_neardup_pairs(corpus, max_hamming=6)
    twin_pairs = got.filter(F.col("id_b") - F.col("id_a") == 100000).count()
    assert twin_pairs >= 0.8 * docs.count()  # 435/500 measured; pin headroom


def test_decode_payload_gate():
    """The codec gate: image/* dispatches to pillow when installed, raises
    NotImplementedError otherwise; audio/video are always deployment hooks
    in this container."""
    import importlib.util

    import pytest

    from data_integration_and_processing_spark.operators.multimodal import decode_payload

    with pytest.raises(NotImplementedError):
        decode_payload(b"\x00\x01", "audio/wav")

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError, match="pillow"):
            decode_payload(b"\x89PNG", "image/png")
    else:
        # 1x1 transparent PNG, the smallest valid payload
        import base64

        png = base64.b64decode(
            "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4nGNgYGBgAAAABQAB"
            "h6FO1AAAAABJRU5ErkJggg=="
        )
        img = decode_payload(png, "image/png")
        assert img.size == (1, 1)


def test_bytes_dedup_ledger_arithmetic(spark, sf_dir):
    rows = all_specs()["multimodal_dedup_exact_bytes"].spark(spark, sf_dir).collect()
    assert rows, "injected byte-identical copies must produce dup groups"
    for r in rows:
        assert r["n_copies"] >= 2
        assert r["bytes_saved"] == (r["n_copies"] - 1) * r["n_bytes"]
        # keeper is the original, not the +100000 re-ingest
        assert r["keeper_doc_id"] < 100000

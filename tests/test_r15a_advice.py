"""Round-15 batch A: the r14 ADVICE hardening fixes — the JPEG
decoder's untrusted-SOF pixel budget and the pin_for_query release
path for the graph probes (the symlink-aware cache-root checks are in
test_staging.py)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from banking_data_etl_pipeline_spark.multimodal import jpeg as J


def _minimal_headers(h: int, w: int) -> bytes:
    """A syntactically valid stream up to SOS with the module tables
    and attacker-chosen SOF dimensions, and an empty entropy stream."""

    def seg(marker, body):
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = bytes([0x00]) + bytes([1] * 64)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([1, 1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(J.DC_BITS) + bytes(J.DC_VALS)
    dht_ac = bytes([0x10]) + bytes(J.AC_BITS) + bytes(J.AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + seg(0xDB, dqt)
        + seg(0xC0, sof)
        + seg(0xC4, dht_dc)
        + seg(0xC4, dht_ac)
        + seg(0xDA, sos)
        + b"\xff\xd9"
    )


def test_decoder_rejects_oversized_sof_dimensions():
    """65535x65535 SOF dims (a ~34 GB allocation if trusted) must
    degrade to None via the pixel budget, never attempt the alloc."""
    assert 65535 * 65535 > J.MAX_PIXELS
    assert J.decode_gray_jpeg(_minimal_headers(65535, 65535)) is None


def test_decoder_still_accepts_in_budget_dimensions():
    px = np.full((8, 8), 77, dtype=np.uint8)
    dec = J.decode_gray_jpeg(J.encode_gray_jpeg(px))
    assert dec is not None and (dec == px).all()


@pytest.mark.slowtier
def test_graph_probe_persists_are_pinned(spark):
    """nsw/hnsw self-built adjacency + final candidate frames register
    with the session pin list, so the next query's tune_for_oracle
    releases them instead of accumulating across a battery."""
    from banking_data_etl_pipeline_spark import session as S
    from banking_data_etl_pipeline_spark.operators import similarity
    from banking_data_etl_pipeline_spark.sources import tables
    from conftest import SF_DIR

    S.release_pinned()
    emb = tables.load(spark, SF_DIR, "embeddings")
    q = similarity.corpus_queries(emb, n=2)
    out = similarity.hnsw_topk(emb, q, k=3, hops1=1, hops=1)
    assert out.count() > 0
    assert len(S._QUERY_PINS.get()) >= 3  # adj1 + adj0 + final frames at least
    pinned = list(S._QUERY_PINS.get())
    S.release_pinned()
    assert not S._QUERY_PINS.get()
    assert all(not df.is_cached for df in pinned)

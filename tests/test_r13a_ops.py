"""Round-13 operators, batch A: the zlib-PNG real-decode lane.

Reference parity note: the reference pipeline (batch_pipeline1.py) has
no media surface at all — this lane is extension-brief coverage
(multimodal decode plumbing), tested the same way as the r12 PPM/PCM
positive paths.
"""

from __future__ import annotations

import struct
import zlib

import pandas as pd
import pytest

from banking_data_etl_pipeline_spark.multimodal import binaryops
from banking_data_etl_pipeline_spark.sources import tables
from conftest import SF_DIR


# ------------------------------------------------------------- pure python


def _raster(d: int) -> tuple[int, int, bytes]:
    w, h = 8 + d % 13, 8 + d % 11
    return w, h, bytes((d * 131 + i * 17) % 256 for i in range(w * h * 3))


def test_png_filter_roundtrip_covers_all_five_types():
    for d in (0, 1, 2, 3, 4, 13, 100, 997):
        w, h, raw = _raster(d)
        filtered = binaryops._png_filter_lines(raw, w, h, d)
        # every scanline carries its filter-type byte; h >= 8 > 5 so
        # all five spec filters appear on every image
        types = {filtered[r * (1 + w * 3)] for r in range(h)}
        assert types == {0, 1, 2, 3, 4}
        assert binaryops._png_unfilter(filtered, w, h) == raw


def test_png_unfilter_rejects_malformed():
    w, h, raw = _raster(7)
    filtered = binaryops._png_filter_lines(raw, w, h, 7)
    assert binaryops._png_unfilter(filtered[:-1], w, h) is None  # truncated
    bad = bytearray(filtered)
    bad[0] = 9  # unknown filter type
    assert binaryops._png_unfilter(bytes(bad), w, h) is None


def test_parse_png_checks_crc_and_shape():
    w, h, raw = _raster(42)
    z = zlib.compress(binaryops._png_filter_lines(raw, w, h, 42), 6)
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    payload = (
        binaryops.PNG_SIG
        + binaryops._png_chunk_bytes(b"IHDR", ihdr)
        + binaryops._png_chunk_bytes(b"IDAT", z)
        + binaryops._png_chunk_bytes(b"IEND", b"")
    )
    pw, ph, zd = binaryops.parse_png(payload)
    assert (pw, ph) == (w, h) and zlib.decompress(zd) == \
        binaryops._png_filter_lines(raw, w, h, 42)
    # corrupt one IDAT data byte -> CRC mismatch -> None
    bad = bytearray(payload)
    bad[8 + 25 + 8 + 3] ^= 0xFF
    assert binaryops.parse_png(bytes(bad)) is None
    # wrong color type
    bad_ihdr = struct.pack(">II", w, h) + b"\x08\x00\x00\x00\x00"
    p2 = (
        binaryops.PNG_SIG
        + binaryops._png_chunk_bytes(b"IHDR", bad_ihdr)
        + binaryops._png_chunk_bytes(b"IDAT", z)
        + binaryops._png_chunk_bytes(b"IEND", b"")
    )
    assert binaryops.parse_png(p2) is None
    assert binaryops.parse_png(payload[:30]) is None
    assert binaryops.parse_png(b"") is None


# ------------------------------------------------------------- spark lane


def test_synthesize_png_is_real_multi_idat_png(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    media = binaryops.synthesize_png(docs)
    rows = media.orderBy("media_id").limit(6).collect()
    for r in rows:
        payload = bytes(r.payload)
        parsed = binaryops.parse_png(payload)
        assert parsed is not None
        w, h, zd = parsed
        assert (w, h) == (8 + r.media_id % 13, 8 + r.media_id % 11)
        raw = binaryops._png_unfilter(zlib.decompress(zd), w, h)
        _, _, expect = _raster(int(r.media_id))
        assert raw == expect
        assert r.meta.mime == "image/png"
        assert r.meta.n_bytes == len(payload)
        # ≤64-byte IDAT split: every compressed stream here exceeds 64
        # bytes, so the multi-IDAT concat path is genuinely exercised
        assert payload.count(b"IDAT") >= 2


def test_decode_png_matches_formula_and_nulls_malformed(spark):
    docs = tables.load(spark, SF_DIR, "documents").limit(20)
    media = binaryops.synthesize_png(docs)
    got = {
        r.media_id: r
        for r in binaryops.decode_png(media).collect()
    }
    for d, r in got.items():
        w, h, raw = _raster(int(d))
        assert (r.width, r.height, r.n_px) == (w, h, w * h)
        sums = [0, 0, 0]
        for i, b in enumerate(raw):
            sums[i % 3] += b
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(sums)
    # corrupt payloads decode to null stats, never raise
    corrupt = media.limit(3).selectExpr(
        "media_id",
        "substring(payload, 1, octet_length(payload) - 7) AS payload",
    )
    bad = binaryops.decode_png(corrupt).collect()
    assert len(bad) == 3
    assert all(r.width is None and r.sum_r is None for r in bad)


# ----------------------------------------------------------- unigram LM


def test_unigram_segment_key_objective():
    """The DP objective, hand-worked: min pieces, then max count sum,
    then lexicographically smallest sequence."""
    from banking_data_etl_pipeline_spark.operators.unigram import (
        SEP,
        segment_key,
    )

    vocab = {"a": 7, "b": 8, "ab": 7, "ba": 2, "aba": 2, "abab": 2}
    # 1 piece beats any 2-piece split regardless of counts
    assert segment_key("abab", vocab) == f"01{10**12 - 2:013d}abab"
    # no 3-char+ piece for 'aab': best 2-piece is a|ab (7+7=14) over
    # aa?|b (aa not in vocab); check sum tie-break vs ab|a? not a
    # valid split of 'aab' -> a|ab only
    assert segment_key("aab", vocab) == f"02{10**12 - 14:013d}a{SEP}ab"
    # sum tie-break: 'abba' -> ab|ba (7+2=9) vs a|b|b|a 4 pieces;
    # 2-piece wins; among 2-piece only ab|ba exists
    assert segment_key("abba", vocab) == f"02{10**12 - 9:013d}ab{SEP}ba"
    # lexicographic tie-break: craft equal sums
    v2 = {"x": 5, "y": 5, "xy": 5, "yx": 5}
    # 'xyxy': 2-piece xy|xy sum 10; no other 2-piece split (x|yxy needs
    # yxy) -> xy|xy
    assert segment_key("xyxy", v2) == f"02{10**12 - 10:013d}xy{SEP}xy"
    # unsegmentable -> None
    assert segment_key("qz", {"q": 1}) is None
    assert segment_key("", vocab) is None


@pytest.mark.slowtier
def test_unigram_train_hand_worked(spark):
    """The full trainer on the module's hand example: seed counts,
    round-1 usage, the 3n/4+chars prune, final vocab."""
    from banking_data_etl_pipeline_spark.operators import unigram as U

    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "abab b ab"), (3, "ab")],
        "doc_id long, text string",
    )
    wf = dict(
        (r["word"], r["wn"])
        for r in U._word_freqs(docs, "text", 12).collect()
    )
    assert wf == {"abab": 2, "ab": 3, "b": 1}
    seed = dict(
        (r["piece"], r["cnt"])
        for r in U._seed_counts(
            U._word_freqs(docs, "text", 12), 4
        ).collect()
    )
    # by hand: abab (wn 2): a@0,2 ab@0,2 aba@0 abab@0 b@1,3 ba@1 bab@1
    #          ab (wn 3): a ab b ; b (wn 1): b
    assert seed == {
        "a": 7, "ab": 7, "b": 8, "aba": 2, "abab": 2, "ba": 2, "bab": 2,
    }
    vocab = U.train_unigram(docs, rounds=2)
    # round usage: abab->abab(2), ab->ab(3), b->b(1); ranked
    # [(ab,3),(abab,2),(b,1)], keep 3*3//4 = 2, chars a(0) b(1) added
    assert vocab == {"ab": 3, "abab": 2, "a": 0, "b": 1}
    out = sorted(
        map(tuple, U.unigram_tokenize(docs, vocab=vocab).collect())
    )
    assert out == [
        (1, 2, 2, 6, 3.0),
        (2, 3, 3, 7, 2.333333),
        (3, 1, 1, 2, 2.0),
    ]
    merges = [
        tuple(r) for r in U.unigram_merges(docs, vocab=vocab).collect()
    ]
    assert merges == [
        (1, "ab", 3), (2, "abab", 2), (3, "b", 1), (4, "a", 0),
    ]


def test_unigram_oracle_agrees_on_fixture():
    """The generated unrolled-DP SQL walks the identical states on the
    hand example (both outputs checked against the Spark values pinned
    above)."""
    import duckdb

    from banking_data_etl_pipeline_spark import oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        "SELECT 1::BIGINT AS doc_id, 'abab ab' AS text "
        "UNION ALL SELECT 2, 'abab b ab' UNION ALL SELECT 3, 'ab'"
    )
    assert con.execute(oracle.UNIGRAM_MERGES_Q).fetchall() == [
        (1, "ab", 3), (2, "abab", 2), (3, "b", 1), (4, "a", 0),
    ]
    assert sorted(con.execute(oracle.UNIGRAM_TOKENIZE_Q).fetchall()) == [
        (1, 2, 2, 6, 3.0), (2, 3, 3, 7, 2.333333), (3, 1, 1, 2, 2.0),
    ]

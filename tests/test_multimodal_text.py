"""Multimodal plumbing + text analysis operators."""

from __future__ import annotations

import pytest

import hashlib

from banking_data_etl_pipeline_spark.multimodal import binaryops
from banking_data_etl_pipeline_spark.sources import tables
from pyspark.sql import functions as F

from conftest import SF_DIR


def _media(spark):
    return binaryops.synthesize_media(tables.load(spark, SF_DIR, "documents"))


def _body(payload: bytes, kind: str) -> bytes:
    """The encoded-stream body inside the synthesized container."""
    if kind == "image":
        return payload[41:-16]  # after sig+IHDR+IDAT header, before crc+IEND
    return payload[44:]  # canonical WAV header


def test_media_metadata_matches_payload(spark):
    media = _media(spark)
    sample = media.limit(6).collect()
    meta = {r.media_id: r for r in binaryops.media_metadata(media).collect()}
    for r in sample:
        m = meta[r.media_id]
        payload = bytes(r.payload)
        assert m.n_bytes == len(payload)
        assert m.sha256 == hashlib.sha256(_body(payload, m.kind)).hexdigest()
        assert m.kind in ("image", "audio")
        assert m.mime in ("image/png", "audio/wav")


def test_synthesized_containers_are_structurally_valid(spark):
    """Independent byte-level validation (zlib.crc32, struct) that the
    synthesized payloads are REAL containers: PNG signature + IHDR/IDAT
    with correct CRC-32s and IEND trailer; canonical RIFF/WAVE with
    consistent chunk sizes — i.e. what any external header reader
    would accept."""
    import struct
    import zlib

    for r in _media(spark).limit(8).collect():
        p = bytes(r.payload)
        if r.kind == "image":
            assert p[:8] == binaryops.PNG_SIG
            (ihdr_len,) = struct.unpack(">I", p[8:12])
            assert ihdr_len == 13 and p[12:16] == b"IHDR"
            (ihdr_crc,) = struct.unpack(">I", p[29:33])
            assert ihdr_crc == zlib.crc32(p[12:29])
            (idat_len,) = struct.unpack(">I", p[33:37])
            assert p[37:41] == b"IDAT"
            (idat_crc,) = struct.unpack(">I", p[41 + idat_len : 45 + idat_len])
            assert idat_crc == zlib.crc32(p[37 : 41 + idat_len])
            assert p[-12:] == binaryops.PNG_IEND[-12:]
            assert len(p) == idat_len + binaryops.PNG_OVERHEAD
        else:
            assert p[:4] == b"RIFF" and p[8:12] == b"WAVE"
            (riff_size,) = struct.unpack("<I", p[4:8])
            assert riff_size == len(p) - 8
            assert p[12:16] == b"fmt " and struct.unpack("<I", p[16:20])[0] == 16
            afmt, ch, rate, brate, align, bits = struct.unpack("<HHIIHH", p[20:36])
            assert (afmt, ch, align, bits) == (1, 1, 2, 16)
            assert brate == rate * 2
            assert p[36:40] == b"data"
            (data_size,) = struct.unpack("<I", p[40:44])
            assert data_size == len(p) - binaryops.WAV_OVERHEAD


def test_extract_features_parses_real_headers(spark):
    media = _media(spark)
    feats = {r.media_id: r for r in binaryops.extract_features(media).collect()}
    checked_img = checked_aud = 0
    for r in media.limit(10).collect():
        f = feats[r.media_id]
        payload = bytes(r.payload)
        nb = len(_body(payload, r.kind))
        assert f.n_bytes == len(payload)
        if r.kind == "image":
            assert (f.height, f.width, f.channels) == (
                32 + nb % 97, 32 + nb % 89, 3,
            )
            assert f.sample_rate is None and f.duration_ms is None
            checked_img += 1
        else:
            rate = 8000 + (nb % 8) * 1000
            assert (f.sample_rate, f.bits_per_sample, f.channels) == (rate, 16, 1)
            assert f.duration_ms == (nb // 2) * 1000 // rate
            assert f.height is None and f.width is None
            checked_aud += 1
    assert checked_img > 0 and checked_aud > 0


def test_parse_media_header_walks_noncanonical_wav_chunks(spark):
    """The WAV parse is a generic RIFF chunk walk, not a fixed-offset
    assumption: a LIST chunk (with odd size, exercising even-padding)
    before fmt must not break it."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    chunks = (
        b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"  # odd + pad
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 8) + b"\x00" * 8
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    out = binaryops.parse_media_header(wav)
    assert out["sample_rate"] == 44100
    assert out["channels"] == 2
    assert out["bits_per_sample"] == 16
    assert out["duration_ms"] == 8 // 4 * 1000 // 44100
    # and a grayscale PNG exercises the color-type -> channels map
    ihdr = struct.pack(">II", 7, 9) + bytes([8, 0, 0, 0, 0])
    png = (
        binaryops.PNG_SIG
        + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4
    )
    out = binaryops.parse_media_header(png)
    assert (out["height"], out["width"], out["channels"]) == (9, 7, 1)
    # unknown container -> all-None row, not an exception
    assert all(v is None for v in binaryops.parse_media_header(b"junk").values())


def test_frame_sample_counts(spark):
    media = _media(spark)
    counts = {
        r.media_id: r.n
        for r in binaryops.frame_sample(media)
        .groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in media.select("media_id", F.octet_length("payload").alias("nb")).collect():
        expect = max(r.nb - 1, 0) // 1024 + 1
        assert counts[r.media_id] == expect


def test_text_quality_and_langid(spark):
    from banking_data_etl_pipeline_spark.functions import texttools

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was happy for a while"),
            (2, "der hund ist nicht auf der couch und das ist gut"),
            (3, "!!! ??? ;;; ###"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            texttools.lang_id(F.col("text")).alias("lang"),
            texttools.quality_score(F.col("text")).alias("q"),
            texttools.token_count(F.col("text")).alias("n"),
        ).collect()
    }
    assert rows[1].lang == "en"
    assert rows[2].lang == "de"
    assert rows[3].lang == "und"
    assert rows[4].n == 0 and rows[4].lang == "und"
    assert rows[1].q > rows[3].q  # clean prose beats punctuation soup
    assert all(0.0 <= rows[i].q <= 1.0 for i in rows)


def test_fingerprint_deterministic(spark):
    from banking_data_etl_pipeline_spark.functions import texttools

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zyxwvutsrq")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.fp
        for r in docs.select(
            "doc_id", texttools.fingerprint(F.col("text"), 8).alias("fp")
        ).collect()
    }
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]
    assert len(rows[1]) == 32


def test_parse_media_header_never_raises_on_garbage(spark):
    """A parser inside a Spark task must never throw: arbitrary bytes,
    truncated containers, and adversarial chunk sizes all degrade to
    None fields."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import struct

    fields = {
        "height", "width", "channels",
        "sample_rate", "bits_per_sample", "duration_ms",
    }

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=128))
    def fuzz(payload):
        out = binaryops.parse_media_header(payload)
        assert set(out) == fields

    fuzz()

    # targeted nasties: truncated PNG after the signature/IHDR tag,
    # truncated WAV fmt, and a WAV whose chunk size overruns the buffer
    nasties = [
        binaryops.PNG_SIG,
        binaryops.PNG_SIG + struct.pack(">I", 13) + b"IHDR",
        binaryops.PNG_SIG + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 5,
        b"RIFF" + struct.pack("<I", 100) + b"WAVE",
        b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"fmt "
        + struct.pack("<I", 16) + b"\x00" * 4,  # fmt body truncated
        b"RIFF" + struct.pack("<I", 100) + b"WAVE" + b"data"
        + struct.pack("<I", 0xFFFFFFFF),  # chunk size overruns buffer
        b"",
    ]
    for p in nasties:
        out = binaryops.parse_media_header(p)
        assert set(out) == fields


def test_resize_media_shrinks_and_hashes(spark):
    import hashlib

    media = binaryops.synthesize_media(tables.load(spark, SF_DIR, "documents"))
    out = {r.media_id: r for r in binaryops.resize_media(media, 8, 8).collect()}
    src = {
        r.media_id: _body(bytes(r.payload), "image")
        for r in media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .collect()
    }
    assert set(out) == set(src)  # image rows only
    for mid, r in out.items():
        assert (r.height, r.width) == (8, 8)
        n_keep = r.resized_bytes - binaryops.PNG_OVERHEAD
        assert 1 <= n_keep <= max(len(src[mid]), 1)
        assert r.resized_sha == hashlib.sha256(src[mid][:n_keep]).hexdigest()
    # a small target must actually shrink a typical payload body
    shrunk = [m for m in out if out[m].resized_bytes - binaryops.PNG_OVERHEAD < len(src[m])]
    assert len(shrunk) > len(out) // 2


def test_sample_decode_raises_through_spark(spark):
    """The pixel/PCM decode escape hatch must fail LOUDLY — a typed
    DecodeNotAvailable at the call, before any job runs, not a silent
    fall-through to the header-only path (which would report no
    samples as if decoded)."""
    media = _media(spark).limit(4)
    for lane in (binaryops.extract_features, binaryops.resize_media):
        with pytest.raises(binaryops.DecodeNotAvailable) as ei:
            lane(media, decode_samples=True)
        assert "codecs are not installed" in str(ei.value)


def test_repetition_signals(spark):
    """Repetition fractions bounded and the verdicts sort correctly: a
    chanted bigram doc is culled, varied prose is kept, a too-short
    doc gets null signals but survives (insufficient evidence)."""
    from banking_data_etl_pipeline_spark.functions import texttools

    rows = [
        (1, "buy now " * 50),                       # one bigram everywhere
        (2, "the quick brown fox jumps over a lazy dog near the riverbank"),
        (3, "word"),                                # too short for bigrams
        (4, ("a b c d e f g h " * 10)),             # loops trigrams hard
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", *texttools.repetition_signals(F.col("text"))
    )
    out = {r.doc_id: r for r in df.collect()}
    for r in out.values():
        for v in (r.top_bigram_frac, r.dup_trigram_frac):
            assert v is None or 0.0 <= v <= 1.0
    assert not out[1].keep and out[1].top_bigram_frac > 0.4
    assert out[2].keep
    assert out[3].keep and out[3].top_bigram_frac is None
    assert not out[4].keep and out[4].dup_trigram_frac > 0.8


@pytest.mark.slowtier
def test_block_mean_hash_is_container_invariant(spark):
    # same text -> same stream body; even id packs it in a PNG, odd in
    # a WAV — the phash must depend on the BODY only, proving the
    # container slice is exact
    docs = spark.createDataFrame(
        [(2, "the same body bytes in different containers"),
         (3, "the same body bytes in different containers"),
         (5, "a completely different payload body here")],
        "doc_id long, text string",
    )
    media = binaryops.synthesize_media(docs)
    out = {r.media_id: r for r in binaryops.block_mean_hash(media).collect()}
    assert out[2].kind == "image" and out[3].kind == "audio"
    assert out[2].phash == out[3].phash
    assert len(out[2].phash) == 16 and set(out[2].phash) <= {"0", "1"}
    assert out[5].phash != out[2].phash
    assert out[2].n_body == out[3].n_body == len(
        "the same body bytes in different containers".encode()
    )


def test_normalize_text_handles_controls_and_runs(spark):
    from banking_data_etl_pipeline_spark.functions import texttools

    df = spark.createDataFrame(
        [("  MiXed \t\tCase\x00with\x1fctrl   chars \n",),
         ("already clean",),
         ("",)],
        "t string",
    )
    got = [r.c for r in df.select(
        texttools.normalize_text(F.col("t")).alias("c")).collect()]
    assert got[0] == "mixed case with ctrl chars"
    assert got[1] == "already clean"
    assert got[2] == ""


def test_validate_media_clean_corpus_all_ok(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    media = binaryops.synthesize_media(docs)
    out = binaryops.validate_media(media).collect()
    assert len(out) == 500
    assert all(r.status == "ok" for r in out)


def test_validate_media_catches_planted_damage(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    media = binaryops.corrupt_for_validation(binaryops.synthesize_media(docs))
    out = {r.media_id: r.status for r in binaryops.validate_media(media).collect()}
    for mid, status in out.items():
        if mid % 13 == 0:
            assert status == "bad_magic", (mid, status)
        elif mid % 17 == 0:
            want = "bad_crc" if mid % 2 == 0 else "bad_size"
            assert status == want, (mid, status)
        else:
            assert status == "ok", (mid, status)
    # the corruption classes are actually present in the corpus
    assert any(s == "bad_magic" for s in out.values())
    assert any(s == "bad_crc" for s in out.values())
    assert any(s == "bad_size" for s in out.values())


@pytest.mark.slowtier
def test_media_validate_oracle_fixture_invariants(spark):
    """MEDIA_VALIDATE_Q predicts 'bad_size' for every %17 audio row and
    'bad_crc' for every %17 image row. Those predictions rest on two
    corpus invariants this test pins explicitly (at the test sf AND the
    parity/driver sf): every document body is non-empty, so zeroing the
    WAV data size is a real corruption, and no synthesized IHDR has
    crc32 == 0, so zeroing the stored CRC is a real corruption. A
    future fixture that breaks either fails HERE, not as a confusing
    oracle mismatch far from the cause."""
    import os

    for sf in (SF_DIR, "/root/testdata/sf0.01"):
        if not os.path.exists(os.path.join(sf, "documents.parquet")):
            continue
        docs = tables.load(spark, sf, "documents")
        min_body = docs.agg(
            F.min(F.octet_length(F.encode(F.col("text"), "UTF-8")))
        ).first()[0]
        assert min_body is not None and min_body > 0, sf
        media = binaryops.synthesize_media(docs)
        zero_crc = (
            media.filter(F.col("kind") == "image")
            .filter(F.crc32(F.substring(F.col("payload"), 13, 17)) == 0)
            .count()
        )
        assert zero_crc == 0, sf

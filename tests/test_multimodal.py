"""Multimodal plumbing: schema, Arrow batch path, stub gating."""

import pytest
from pyspark.sql import functions as F

from mlops_drift_detection_spark.functions import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    # 69-byte ASCII payloads with no RIFF/BM magic: stand-ins for compressed
    # codecs, long enough not to read as truncated containers
    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("blob-"), F.sha2(F.col("id").cast("string"), 256)).alias("text"),
    )
    df = M.media_from_documents(docs).cache()
    df.count()
    return df


def test_media_schema(media):
    assert media.schema == M.MEDIA_SCHEMA or set(media.columns) == {
        f.name for f in M.MEDIA_SCHEMA.fields
    }


def test_extract_features_fake(media):
    feats = M.extract_features(media, decode_mode="fake", feature_dim=16)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == 16
        assert r["n_bytes"] > 0
    # deterministic across runs
    again = {r["media_id"]: list(r["feature"]) for r in M.extract_features(media, "fake", 16).collect()}
    first = {r["media_id"]: list(r["feature"]) for r in rows}
    assert again == first


def test_extract_features_compressed_is_stubbed(media):
    """The fixture payloads carry no RIFF/BM magic, i.e. they stand in for
    compressed codecs — the one remaining declared stub in real mode."""
    with pytest.raises(Exception) as ei:
        M.extract_features(media, decode_mode="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_wav_roundtrip_exact():
    import numpy as np

    rng = np.random.default_rng(3)
    mono = rng.integers(-32768, 32767, 1000).astype("<i2")
    got, rate = M.decode_wav_pcm16(M.encode_wav_pcm16(mono, 8000))
    assert rate == 8000 and np.array_equal(got, mono)
    stereo = rng.integers(-32768, 32767, (500, 2)).astype("<i2")
    got2, rate2 = M.decode_wav_pcm16(M.encode_wav_pcm16(stereo, 44100))
    assert rate2 == 44100 and np.array_equal(got2, stereo)


def test_bmp_roundtrip_exact_odd_widths():
    import numpy as np

    rng = np.random.default_rng(4)
    for h, w in [(7, 5), (3, 1), (8, 6), (2, 3)]:  # odd widths hit row padding
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(M.decode_bmp24(M.encode_bmp24(px)), px)


def test_extract_features_real_decodes_wav_and_bmp(spark):
    """real mode over a MIXED Arrow batch of actual WAV + BMP payloads:
    features must equal the locally-computed reference (decode parity
    between the mapInPandas executor path and the driver-side kernel)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows, want = [], {}
    for i in range(6):
        if i % 2 == 0:
            pcm = rng.integers(-2000, 2000, 400 + 37 * i).astype("<i2")
            payload = M.encode_wav_pcm16(pcm, 16000)
            kind = "audio"
        else:
            px = rng.integers(0, 256, (5 + i, 7, 3)).astype(np.uint8)
            payload = M.encode_bmp24(px)
            kind = "image"
        rows.append((i, kind, "x", -1, -1, -1, bytearray(payload)))
        want[i] = M._real_features(payload, 16)
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    got = {
        r["media_id"]: np.array(r["feature"], dtype=np.float32)
        for r in M.extract_features(media, decode_mode="real").collect()
    }
    assert set(got) == set(want)
    for i in want:
        assert np.array_equal(got[i], want[i]), i


def test_kind_magic_mismatch_raises_distinct_error():
    """ADVICE r4: a WAV payload labeled 'image' (or BMP labeled 'audio')
    must raise the mislabeled-row ValueError, not decode as the wrong
    modality or fall into the compressed-codec stub."""
    import numpy as np

    wav = M.encode_wav_pcm16(np.full(64, 5, dtype=np.int16))
    bmp = M.encode_bmp24(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="kind mismatch"):
        M._real_features(wav, 16, kind="image")
    with pytest.raises(ValueError, match="kind mismatch"):
        M._real_features(bmp, 16, kind="audio")
    # matching kind (or no kind) still decodes fine
    assert M._real_features(wav, 16, kind="audio").shape == (16,)
    assert M._real_features(bmp, 16, kind="image").shape == (16,)


def test_truncated_payload_raises_distinct_error():
    """A payload too short for any container header is a corrupt row, not
    compressed-codec territory — distinct truncation error (ADVICE r4)."""
    with pytest.raises(ValueError, match="truncated"):
        M._real_features(b"RIF", 16, kind="audio")
    with pytest.raises(ValueError, match="truncated"):
        M._real_features(b"", 16)
    # unknown magic at plausible container length -> still the declared stub
    with pytest.raises(NotImplementedError):
        M._real_features(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64, 16, kind="image")


def test_plant_real_media_decode_stats_roundtrip(spark):
    """plant_real_media -> media_decode_stats reproduces the closed-form
    planted parameters row by row (the distributed twin of the encoder/
    decoder round-trip tests)."""
    ids = spark.range(40).select(F.col("id").alias("doc_id"))
    stats = {
        r["media_id"]: r
        for r in M.media_decode_stats(M.plant_real_media(ids)).collect()
    }
    assert len(stats) == 40
    for i in range(40):
        r = stats[i]
        if i % 2 == 0:
            w, h = 7 + (i % 5) * 3, 6 + (i % 3) * 2
            pad = (4 - (w * 3) % 4) % 4
            assert r["kind"] == "image"
            assert r["n_bytes"] == 54 + (w * 3 + pad) * h
            assert r["n_units"] == w * h
            assert r["decoded_val"] == (i * 37) % 256
        else:
            L = 160 + (i % 40) * 16
            assert r["kind"] == "audio"
            assert r["n_bytes"] == 44 + 2 * L
            assert r["n_units"] == L
            assert r["decoded_val"] == (i % 200) - 100
        assert r["norm_ok"] == "true"

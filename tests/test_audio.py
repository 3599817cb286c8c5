"""Audio codecs, decode-check UDF, synthetic clips, full default catalog.

Mirrors the reference's golden-fixture contract (tests/test_errorCheck.py):
clean fixture → zero violations; each anomaly category → its violation class.
"""

import numpy as np
import pytest

from anzlic_validator_spark.engine import validate
from anzlic_validator_spark.functions import audio
from anzlic_validator_spark.rules import load_catalog
from anzlic_validator_spark.synth import CYCLE, category_of, clips, transcript_index

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ------------------------------------------------------------- pure numpy

def test_codec_roundtrip():
    sig = audio.ref_signal(7, 16000, 16000, seed=42)
    for codec in audio.KNOWN_CODECS:
        b = audio.encode(sig, 16000, codec)
        pcm, sr_emb, err = audio.decode(b, codec)
        assert err is None
        assert pcm.size == sig.size
        # quantization-limited reconstruction: well above the 30 dB gate
        assert audio.snr_db(sig, pcm) > 40
        if codec in ("wav", "flac"):
            assert sr_emb == 16000


def test_decode_errors():
    assert audio.decode(b"", "wav")[2] == "empty bytes"
    assert audio.decode(b"abc", "pcm_s16le")[2] == "odd byte length for s16le"
    assert "bad RIFF" in audio.decode(b"x" * 50, "wav")[2]
    assert "unknown codec" in audio.decode(b"x" * 4, "mp3")[2]
    sig = audio.ref_signal(1, 8000, 800, seed=1)
    b = audio.encode(sig, 8000, "flac")
    assert audio.decode(b[: len(b) // 2], "flac")[2] is not None


def test_ref_signal_deterministic():
    a = audio.ref_signal(5, 8000, 1000, seed=42)
    b = audio.ref_signal(5, 8000, 1000, seed=42)
    c = audio.ref_signal(6, 8000, 1000, seed=42)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


# ------------------------------------------------------------ spark layer

@pytest.fixture(scope="module")
def small_clips(spark):
    df = clips(spark, CYCLE + 20, seed=42, num_partitions=4).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def catalog():
    return load_catalog(os.path.join(REPO, "configs/rules_default.yaml"))


@pytest.fixture(scope="module")
def result(spark, small_clips, catalog):
    idx = transcript_index(spark, CYCLE + 20, seed=42)
    return validate(small_clips, catalog, key_col="clip_id", refs={"transcript_index": idx})


def test_clean_clips_pass(spark, catalog):
    df = clips(spark, 500, seed=42, clean=True, num_partitions=2)
    idx = transcript_index(spark, 500, seed=42, missing_every=10**9, mismatch_every=10**9)
    res = validate(df, catalog, key_col="clip_id", refs={"transcript_index": idx})
    assert res.violations.count() == 0
    verd = res.verdicts
    assert verd.count() == 500 and verd.where("NOT passed").count() == 0


def test_anomaly_categories_fire(result):
    viols = result.violations.collect()
    by_rule = {}
    for r in viols:
        by_rule.setdefault(r.rule_id, set()).add(r.key)

    def ids_in(cat_name):
        return {
            f"clip-{i:012d}"
            for i in range(CYCLE + 20)
            if category_of(i) == cat_name
        }

    # uniqueness: the dup window recurses down to the last correct row, so
    # every dup row is a clone of the window's base id → one hot dup key
    dup_keys = {
        f"clip-{i - (i % CYCLE - 939):012d}" for i in range(CYCLE) if category_of(i) == "dup"
    }
    assert dup_keys == {"clip-000000000939"}
    assert dup_keys <= by_rule["clip_id.unique.incorrect"]
    assert ids_in("null_transcript") <= by_rule["transcript.exists.missing"]
    assert ids_in("empty_transcript") <= by_rule["transcript.exists.empty"]
    assert ids_in("bad_codec") <= by_rule["codec.in_set.incorrect"]
    assert ids_in("bad_codec") <= by_rule["clips.audio.decode"]
    assert ids_in("sr_mismatch") <= by_rule["clips.audio.sr"]
    assert ids_in("dur_mismatch") <= by_rule["clips.audio.dur"]
    assert ids_in("low_snr") <= by_rule["clips.audio.snr"]
    assert ids_in("short_dur") <= by_rule["dur_ms.range.incorrect"]
    # bad_id_format ids have mutated clip_ids; check by count instead
    fmt_keys = by_rule["clip_id.format.incorrect"]
    assert len(fmt_keys) == len(ids_in("bad_id_format"))
    # corrupt bytes fail decode
    assert ids_in("corrupt") <= by_rule["clips.audio.decode"]
    # referential: mismatched transcript (i % 97 == 96, correct-category only)
    ref_bad = by_rule.get("transcript.referential.incorrect", set())
    expect_ref = {
        f"clip-{i:012d}"
        for i in range(CYCLE + 20)
        if i % 97 == 96 and category_of(i) == "correct"
    }
    assert expect_ref <= ref_bad
    missing_ref = by_rule.get("transcript.referential.missing_ref", set())
    expect_missing = {
        f"clip-{i:012d}"
        for i in range(CYCLE + 20)
        if i % 101 == 100 and category_of(i) == "correct"
    }
    assert expect_missing <= missing_ref


def test_correct_rows_have_no_audio_violations(result):
    viols = result.violations.where("rule_id LIKE 'clips.audio%'").collect()
    bad_cats = {"bad_codec", "sr_mismatch", "dur_mismatch", "corrupt", "low_snr", "short_dur"}
    for r in viols:
        i = int(r.key.split("-")[1]) if r.key.startswith("clip-") else -1
        assert category_of(i) in bad_cats or category_of(i + 0) != "correct", (
            f"unexpected audio violation on {r.key}: {r.rule_id} {r.observed}"
        )


def test_verdicts_and_partition_summary(spark, small_clips, result, tmp_path):
    from anzlic_validator_spark.run import run_validation

    verd = result.verdicts
    n_keys = result.df.select("clip_id").distinct().count()
    assert verd.count() == n_keys
    idx = transcript_index(spark, CYCLE + 20, seed=42)
    summ = run_validation(
        spark, small_clips, os.path.join(REPO, "configs/rules_default.yaml"),
        str(tmp_path / "out"), refs={"transcript_index": idx}, n_buckets=8,
    )
    assert summ["rows"] == n_keys
    assert summ["failed_rows"] == verd.where("NOT passed").count() > 0


def test_codec_registry_end_to_end(spark):
    """VERDICT r02 #8: a codec registered via register_codec flows through
    validate()'s Arrow decode UDF (encode fixtures AND worker-side decode —
    the registry snapshot must survive the trip into the Python workers),
    and its decode exceptions become per-row violations."""
    import struct as _struct

    import numpy as np
    from pyspark.sql import functions as F

    from anzlic_validator_spark.engine import validate
    from anzlic_validator_spark.functions import audio as A
    from anzlic_validator_spark.rules import parse_catalog

    def enc(pcm, sr):
        s16 = A._to_s16(pcm)
        return b"FAKE" + _struct.pack("<I", sr) + s16.tobytes()

    def dec(b):
        if b[:4] != b"FAKE":
            raise ValueError("bad FAKE magic")
        sr = _struct.unpack("<I", b[4:8])[0]
        return np.frombuffer(b[8:], dtype="<i2").astype(np.float32) / 32767.0, sr

    A.register_codec("fake1", enc, dec)
    try:
        assert "fake1" in A.registered_codecs()
        sig = A.ref_signal(7, 8000, 4000, seed=9)
        good = A.encode(sig, 8000, "fake1")
        rows = [
            ("clip-000000000007", bytearray(good), 8000, 500, "fake1", "t"),
            ("clip-000000000008", b"NOTFAKE", 8000, 500, "fake1", "t"),
        ]
        df = spark.createDataFrame(
            rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string"
        )
        cat = parse_catalog(
            {"rules": [{"id": "clips.audio", "type": "audio_decode", "ref_seed": 9,
                        "snr_db_min": 30.0}]}
        )
        res = validate(df, cat, key_col="clip_id")
        viol = {(r.key, r.rule_id) for r in res.violations.collect()}
        assert ("clip-000000000008", "clips.audio.decode") in viol
        assert not any(k == "clip-000000000007" for k, _ in viol)
    finally:
        A._CODEC_REGISTRY.pop("fake1", None)


def test_codec_registry_overrides_builtin():
    """register_codec('flac', ...) must actually take precedence over the
    built-in numpy codec (the documented 'or override' contract)."""
    import numpy as np

    from anzlic_validator_spark.functions import audio as A

    def enc(pcm, sr):
        return b"OVR" + A._to_s16(pcm).tobytes()

    def dec(b):
        assert b[:3] == b"OVR"
        return np.frombuffer(b[3:], dtype="<i2").astype(np.float32) / 32767.0, 12345

    A.register_codec("flac", enc, dec)
    try:
        sig = np.zeros(100, dtype=np.float32)
        b = A.encode(sig, 8000, "flac")
        assert b[:3] == b"OVR"
        pcm, sr, err = A.decode(b, "flac")
        assert err is None and sr == 12345 and pcm.size == 100
    finally:
        A._CODEC_REGISTRY.pop("flac", None)

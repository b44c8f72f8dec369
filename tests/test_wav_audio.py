"""WAV codec + audio feature extraction: round-trips, 8-bit rescale, the
REAL (non-fake) decode path through the Spark kernel, and oracle parity
for the new mm_audio_features query."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest

from geojson_vt_cpp_spark.functions.wav import decode_wav


def encode_wav(
    samples: np.ndarray, sample_rate: int, sample_width: int = 2
) -> bytes:
    """(n_frames,) or (n_frames, n_channels) int16 -> PCM WAV bytes.
    ``sample_width`` 2 writes the int16 samples as-is; 3/4 widen them into
    24/32-bit PCM (low bytes zero) for decoder round-trip tests."""
    samples = np.ascontiguousarray(samples, dtype=np.int16)
    if samples.ndim == 1:
        samples = samples[:, None]
    if sample_width == 2:
        raw = samples.tobytes()
    elif sample_width == 3:
        lo = samples.astype("<i2").view(np.uint8).reshape(-1, 2)
        raw = np.concatenate(
            [np.zeros((lo.shape[0], 1), dtype=np.uint8), lo], axis=1
        ).tobytes()
    elif sample_width == 4:
        raw = (samples.astype("<i4") << 16).tobytes()
    else:
        raise ValueError(f"sample_width {sample_width} not supported (2/3/4)")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(sample_width)
        w.setframerate(sample_rate)
        w.writeframes(raw)
    return buf.getvalue()


def test_wav_round_trip_mono_and_stereo():
    rng = np.random.RandomState(7)
    mono = rng.randint(-32768, 32768, size=1000).astype(np.int16)
    out, rate = decode_wav(encode_wav(mono, 16_000))
    assert rate == 16_000 and out.shape == (1000, 1)
    assert np.array_equal(out[:, 0], mono)

    stereo = rng.randint(-32768, 32768, size=(500, 2)).astype(np.int16)
    out, rate = decode_wav(encode_wav(stereo, 44_100))
    assert rate == 44_100 and out.shape == (500, 2)
    assert np.array_equal(out, stereo)


def test_wav_8bit_rescale():
    """Hand-built 8-bit unsigned PCM: (x - 128) << 8 into int16 range."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([0, 128, 255]))
    out, rate = decode_wav(buf.getvalue())
    assert rate == 8000
    assert out[:, 0].tolist() == [-32768, 0, 32512]


def test_decode_audio_stub_paths():
    from geojson_vt_cpp_spark.operators.multimodal import decode_audio_stub

    x = np.arange(-50, 50, dtype=np.int16)
    samples, rate = decode_audio_stub(encode_wav(x, 22_050), 0, 0, fake=False)
    assert rate == 22_050 and np.array_equal(samples[:, 0], x)
    with pytest.raises(NotImplementedError, match="non-WAV"):
        decode_audio_stub(b"ID3\x03mp3-ish", 10, 8000, fake=False)
    s1, r1 = decode_audio_stub(b"seed", 64, 8000, fake=True)
    s2, _ = decode_audio_stub(b"seed", 64, 8000, fake=True)
    assert np.array_equal(s1, s2) and s1.shape == (64, 1) and r1 == 8000


@pytest.mark.spark
def test_audio_features_real_decode(spark):
    """extract_audio_features with fake_decode=False over REAL encoded WAV
    payloads: features equal numpy computed on the source samples."""
    from geojson_vt_cpp_spark.operators.multimodal import extract_audio_features

    rng = np.random.RandomState(3)
    waves = {
        i: (rng.randint(-32768, 32768, size=(200 + 37 * i, ch)).astype(np.int16), rate)
        for i, (ch, rate) in enumerate([(1, 8000), (2, 16000), (1, 44100)])
    }
    rows = [
        (i, f"wav://{i}", bytearray(encode_wav(s, rate)), "audio/wav", rate, s.shape[0])
        for i, (s, rate) in waves.items()
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_ref string, payload binary, media_kind string, "
        "sample_rate int, n_samples int",
    )
    got = {r["doc_id"]: r for r in extract_audio_features(media, fake_decode=False).collect()}
    assert len(got) == 3
    for i, (s, rate) in waves.items():
        x = s.astype(np.float64).mean(axis=1)
        r = got[i]
        assert r["sample_rate"] == rate and r["n_samples"] == s.shape[0]
        assert r["mean_amp"] == pytest.approx(float(np.abs(x).mean()), abs=1e-9)
        assert r["rms"] == pytest.approx(float(np.sqrt((x * x).mean())), abs=1e-9)
        zc = int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
        assert r["zero_crossings"] == zc
        assert r["duration_sec"] == pytest.approx(s.shape[0] / rate, abs=1e-12)


@pytest.mark.spark
def test_mm_audio_features_oracle_parity(spark):
    """The new 49th driver query vs its precomputed-literal DuckDB oracle
    at sf0.01 (same check the driver's correctness gate runs)."""
    import importlib.util
    import os

    import duckdb

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "__spark_entry__.py",
    )
    spec = importlib.util.spec_from_file_location("spark_entry_audio", path)
    E = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(E)

    sdf = E.queries()["mm_audio_features"](spark, "/root/testdata/sf0.01").toPandas()
    ddf = duckdb.connect().execute(E.oracle_sql()["mm_audio_features"]).df()

    def norm(df):
        df = df[sorted(df.columns)].copy()
        return df.sort_values(by=list(df.columns), ignore_index=True)

    a, b = norm(sdf), norm(ddf)
    assert len(a) == len(b) == 48
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        assert a[c].tolist() == b[c].tolist(), c


def test_24_and_32_bit_round_trip_top_bytes():
    s = np.array([[0, 32767], [-32768, -1], [1234, -4321]], dtype=np.int16)
    for sw in (3, 4):
        out, rate = decode_wav(encode_wav(s, 8000, sample_width=sw))
        assert rate == 8000 and out.shape == s.shape
        assert np.array_equal(out, s), sw

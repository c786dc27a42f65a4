"""Roundtrip + robustness tests for the media codecs
(X5 honest-decode path): what the oracle-gated query deliberately
excludes (float sample statistics, malformed inputs, header
tolerance) is proven here.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from zoom_spark.multimodal.codecs import (
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    resize_ppm,
    synth_ppm_bytes,
    synth_ppm_video_bytes,
    synth_wav_bytes,
    wav_segment_rms,
)


def test_wav_roundtrip_mono():
    sr, n = 8000, 500
    # 400 Hz at 8 kHz over 500 samples = exactly 25 cycles, so the
    # mean cancels and rms hits amp/sqrt(2) up to quantization
    samples = [0.5 * math.sin(2 * math.pi * 400 * i / sr) for i in range(n)]
    d = decode_wav(encode_wav(samples, sr, 1))
    assert d["n_channels"] == 1 and d["sample_rate"] == sr and d["n_units"] == n
    # sine rms = amp/sqrt(2); quantization moves it < 1e-3
    assert abs(d["rms_val"] - 0.5 / math.sqrt(2)) < 1e-3
    assert abs(d["mean_val"]) < 1e-3
    assert abs(d["peak_val"] - 0.5) < 1e-2


def test_wav_roundtrip_stereo_interleave():
    sr = 11025
    frames = 100
    # L channel constant +0.25, R channel constant -0.25
    samples = []
    for _ in range(frames):
        samples.extend([0.25, -0.25])
    d = decode_wav(encode_wav(samples, sr, 2))
    assert d["n_channels"] == 2 and d["n_units"] == frames
    assert abs(d["mean_val"]) < 1e-4  # channels cancel
    assert abs(d["rms_val"] - 0.25) < 1e-3


def test_wav_tolerates_extra_chunks():
    raw = bytearray(encode_wav([0.1, -0.1, 0.2], 8000, 1))
    # splice a LIST chunk (odd length -> exercises word-align padding)
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = bytes(raw[:12]) + extra + bytes(raw[12:])
    # fix RIFF size
    spliced = (
        spliced[:4]
        + (len(spliced) - 8).to_bytes(4, "little")
        + spliced[8:]
    )
    d = decode_wav(spliced)
    assert d["n_units"] == 3 and d["sample_rate"] == 8000


def test_wav_rejects_garbage_and_nonpcm():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not audio at all")
    raw = bytearray(encode_wav([0.0] * 4, 8000, 1))
    raw[20] = 3  # audio_format -> IEEE float
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(bytes(raw))


def test_ppm_roundtrip_exact_sums():
    w, h = 5, 3
    rgb = [((x * 17) % 256, (y * 31) % 256, (x + y) % 256) for y in range(h) for x in range(w)]
    d = decode_ppm(encode_ppm(w, h, rgb))
    assert (d["width"], d["height"], d["maxval"], d["n_units"]) == (w, h, 255, w * h)
    assert d["sum_pixels"] == sum(sum(px) for px in rgb)
    assert abs(d["mean_r"] - sum(p[0] for p in rgb) / (w * h) / 255.0) < 1e-12


def test_ppm_header_comments_and_whitespace():
    body = bytes(v for px in [(1, 2, 3), (4, 5, 6)] for v in px)
    raw = b"P6\n# a comment\n  2 1\n# another\n255\n" + body
    d = decode_ppm(raw)
    assert (d["width"], d["height"], d["sum_pixels"]) == (2, 1, 21)


def test_ppm_rejects_garbage_and_truncation():
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n4 4\n255\n\x00\x01")


def test_synth_fixture_matches_closed_form():
    """The synthesized payloads decode to exactly the header fields
    the oracle SQL derives from the id (the gated query's contract),
    and byte lengths match the closed forms."""
    for seed in [0, 2, 10, 96]:  # even -> wav
        d = decode_wav(synth_wav_bytes(seed))
        assert d["n_channels"] == 1 + (seed // 2) % 2
        assert d["sample_rate"] == 8000 + 1000 * ((seed // 2) % 4)
        assert d["n_units"] == 200 + (seed // 2) % 50
        assert len(synth_wav_bytes(seed)) == 44 + 2 * d["n_channels"] * d["n_units"]
    for seed in [1, 3, 11, 95]:  # odd -> ppm
        w, h = 8 + seed % 9, 6 + seed % 7
        raw = synth_ppm_bytes(seed)
        d = decode_ppm(raw)
        assert (d["width"], d["height"]) == (w, h)
        assert len(raw) == 9 + len(str(w)) + len(str(h)) + 3 * w * h
        assert d["sum_pixels"] == sum(
            (x * 7 + y * 3 + seed) % 256
            + (x * 5 + y * 11 + 2 * seed) % 256
            + (x * 13 + y + 3 * seed) % 256
            for y in range(h)
            for x in range(w)
        )


# sha256 digests of the codec outputs as the per-sample loop codecs
# produced them. The numpy codecs must reproduce every byte, and every
# decoded float bit for bit (repr round-trips a float exactly).
CODEC_IDS = range(20000)
STRIDED_IDS = range(0, 20000, 37)
VIDEO_IDS = range(1000)
CODEC_DIGESTS = {
    "synth_wav_bytes": (
        "af591fb26356802cad0b82a092e12f6b"
        "1a32bfe63fad5ea038ece828f8016ecb"
    ),
    "synth_ppm_bytes": (
        "3275ce875c17465045c95b44a1841ff0"
        "ba4e0ad4e1e77e347152118321efe12a"
    ),
    "decode_wav": (
        "ad5a0699c10d37c177f14619fef7b9c7"
        "397e7f450b8ee4bcf7fac981317bd495"
    ),
    "decode_ppm": (
        "f14bef1bc31e3a52848ee85827cfb1d8"
        "d31ed3bcbb6756429600ca76bc8c7020"
    ),
    "wav_segment_rms": (
        "fee082042e8b2e3d1ae49f7599347716"
        "5bac259add45f53648a872fbc3b126bb"
    ),
    "resize_ppm_8x8": (
        "af498db6150155678ee9fe1c7c2a4916"
        "6e12755e5fdb39a3a540f773edd85141"
    ),
    "synth_ppm_video_bytes": (
        "c6041b205ebc4cdf1f9f77784a4151da"
        "dbddeaacc042d1ddcd06ce8d2bf13aea"
    ),
}


def _sha(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else repr(c).encode())
    return h.hexdigest()


def codec_digests() -> dict[str, str]:
    wavs = [synth_wav_bytes(i) for i in CODEC_IDS]
    ppms = [synth_ppm_bytes(i) for i in CODEC_IDS]
    return {
        "synth_wav_bytes": _sha(wavs),
        "synth_ppm_bytes": _sha(ppms),
        "decode_wav": _sha(sorted(decode_wav(b).items()) for b in wavs),
        "decode_ppm": _sha(sorted(decode_ppm(b).items()) for b in ppms),
        "wav_segment_rms": _sha(
            [sorted(s.items()) for s in wav_segment_rms(wavs[i])]
            for i in STRIDED_IDS
        ),
        "resize_ppm_8x8": _sha(resize_ppm(ppms[i], 8, 8) for i in STRIDED_IDS),
        "synth_ppm_video_bytes": _sha(synth_ppm_video_bytes(i) for i in VIDEO_IDS),
    }


def test_codec_outputs_match_pinned_digests():
    assert codec_digests() == CODEC_DIGESTS


def test_ppm_resize_real_nearest_neighbor():
    """resize_ppm samples exactly src = floor(dst*in/out) and
    re-encodes a valid container (decode of the output succeeds and
    matches a driver-side resample)."""
    from zoom_spark.multimodal.codecs import resize_ppm

    seed = 11
    w, h = 8 + seed % 9, 6 + seed % 7
    out = resize_ppm(synth_ppm_bytes(seed), 4, 3)
    d = decode_ppm(out)
    assert (d["width"], d["height"], d["n_units"]) == (4, 3, 12)
    expect = 0
    for yo in range(3):
        ys = yo * h // 3
        for xo in range(4):
            xs = xo * w // 4
            expect += (
                (xs * 7 + ys * 3 + seed) % 256
                + (xs * 5 + ys * 11 + 2 * seed) % 256
                + (xs * 13 + ys + 3 * seed) % 256
            )
    assert d["sum_pixels"] == expect

    # upscale works too (NN repeats pixels)
    up = decode_ppm(resize_ppm(synth_ppm_bytes(seed), 2 * w, 2 * h))
    assert (up["width"], up["height"]) == (2 * w, 2 * h)


def test_decode_media_permissive_quarantines_bad_blobs(spark):
    """One corrupt blob in a batch: strict mode fails the job,
    permissive mode yields an error row with NULL fields while good
    rows decode normally — the quarantine channel a 100 TB decode
    pass requires."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from zoom_spark.multimodal.binary_ops import decode_media
    from zoom_spark.multimodal.codecs import synth_wav_bytes

    rows = [
        (0, synth_wav_bytes(0), "audio/wav"),
        (1, b"garbage-not-a-riff", "audio/wav"),
        (2, synth_wav_bytes(2), "audio/wav"),
        (3, synth_wav_bytes(4), "video/mp4"),  # unsupported format
    ]
    media = spark.createDataFrame(
        rows, "media_id long, content binary, media_type string"
    )
    res = {r.media_id: r for r in decode_media(media, permissive=True).collect()}
    assert res[0].error is None and res[0].n_units == 200
    assert res[2].error is None and res[2].sample_rate == 9000
    assert "ValueError" in res[1].error and res[1].n_units is None
    assert "NotImplementedError" in res[3].error
    # whichever bad row's task surfaces first depends on partitioning;
    # both the corrupt blob and the unsupported format must abort
    with _pytest.raises(Exception, match="RIFF|no pure-Python decoder"):
        decode_media(media, permissive=False).collect()


def test_decode_wav_ppm_runs_one_task_per_scan_split(spark):
    """multimodal_decode_wav_ppm is two mapInArrow stages straight over
    the documents scan: no Exchange, so one Spark task per scan split
    runs both Python stages (one task and 2 Python tasks at sf0.001).
    A spread_scan or another Python stage coming back fails this; with
    the spread over the 8-core test session the query ran 9 tasks."""
    import uuid

    from tests.conftest import SF_DIR
    from zoom_spark.io import load_table
    from zoom_spark.queries.multimodal_queries import multimodal_decode_wav_ppm

    df = multimodal_decode_wav_ppm(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" not in plan, plan
    assert plan.count("MapInArrow") == 2, plan

    docs = load_table(spark, SF_DIR, "documents")
    n_docs, splits = docs.count(), docs.rdd.getNumPartitions()
    sc = spark.sparkContext
    group = f"decode-tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "decode task count")
    try:
        assert len(df.collect()) == n_docs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = [
        tracker.getStageInfo(s)
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert len(stages) == 1, [(s.stageId, s.numTasks) for s in stages]
    assert sum(s.numTasks for s in stages) <= splits


# --- concatenated-PPM video container -------------------------------------


def test_ppm_video_roundtrip_and_split():
    from zoom_spark.multimodal.codecs import (
        decode_ppm,
        split_ppm_frames,
        synth_ppm_video_bytes,
    )

    for seed in range(8):
        stream = synth_ppm_video_bytes(seed)
        frames = split_ppm_frames(stream)
        assert len(frames) == 2 + seed % 4
        assert b"".join(frames) == stream  # lossless split
        for f in frames:
            d = decode_ppm(f)  # every frame is a valid standalone PPM
            assert d["n_units"] == d["width"] * d["height"]


def test_ppm_video_split_rejects_truncation():
    import pytest

    from zoom_spark.multimodal.codecs import (
        split_ppm_frames,
        synth_ppm_video_bytes,
    )

    stream = synth_ppm_video_bytes(3)
    with pytest.raises(ValueError):
        split_ppm_frames(stream[:-5])


def test_sample_ppm_video_frames_every_k(spark):
    from zoom_spark.multimodal.binary_ops import sample_ppm_video_frames
    from zoom_spark.multimodal.codecs import (
        decode_ppm,
        split_ppm_frames,
        synth_ppm_video_bytes,
    )

    rows = [(i, synth_ppm_video_bytes(i, n_frames=5)) for i in range(6)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = sample_ppm_video_frames(media, every_k=2).collect()
    by_key = {(r["media_id"], r["frame_id"]): r for r in out}
    for i, stream in rows:
        frames = split_ppm_frames(stream)
        expect_ids = list(range(0, 5, 2))
        got_ids = sorted(f for (m, f) in by_key if m == i)
        assert got_ids == expect_ids
        for fid in expect_ids:
            d = decode_ppm(frames[fid])
            r = by_key[(i, fid)]
            assert (r["width"], r["height"]) == (d["width"], d["height"])
            assert r["sum_pixels"] == d["sum_pixels"]
            assert abs(r["mean_r"] - d["mean_r"]) < 1e-6


# --- WAV energy envelope ---------------------------------------------------


def test_wav_segment_rms_consistent_with_whole_clip():
    import math

    from zoom_spark.multimodal.codecs import (
        decode_wav,
        synth_wav_bytes,
        wav_segment_rms,
    )

    for seed in range(6):
        wav = synth_wav_bytes(seed)
        whole = decode_wav(wav)
        segs = wav_segment_rms(wav, n_segments=4)
        assert sum(s["n_samples"] for s in segs) == whole["n_units"] * whole[
            "n_channels"
        ]
        # energy conservation: weighted RMS^2 over segments == clip RMS^2
        total = sum(s["n_samples"] * s["rms"] ** 2 for s in segs)
        n = sum(s["n_samples"] for s in segs)
        assert abs(math.sqrt(total / n) - whole["rms_val"]) < 1e-9
        assert max(s["peak"] for s in segs) == whole["peak_val"]


def test_wav_energy_envelope_mapinpandas(spark):
    from zoom_spark.multimodal.binary_ops import wav_energy_envelope
    from zoom_spark.multimodal.codecs import synth_wav_bytes, wav_segment_rms

    rows = [(i, synth_wav_bytes(i)) for i in range(5)]
    media = spark.createDataFrame(rows, "media_id long, content binary")
    out = wav_energy_envelope(media, n_segments=4).collect()
    by_key = {(r["media_id"], r["segment"]): r for r in out}
    assert len(out) == 20
    for i, wav in rows:
        for seg in wav_segment_rms(wav, 4):
            r = by_key[(i, seg["segment"])]
            assert r["n_samples"] == seg["n_samples"]
            assert abs(r["rms"] - seg["rms"]) < 1e-6
            assert abs(r["peak"] - seg["peak"]) < 1e-6


def test_wav_pitch_autocorr_recovers_planted_tone(spark):
    """R229 referee: the synth clips are pure sines with KNOWN
    frequency f0 = 220 + 5*(seed % 40); the autocorrelation pitch
    estimate must land within the lag-quantization error of f0
    (sr/lag grid: adjacent lags differ by ~f0^2/sr Hz)."""
    from zoom_spark.multimodal.binary_ops import wav_pitch_autocorr
    from zoom_spark.multimodal.codecs import synth_wav_bytes

    import pandas as pd

    ids = list(range(60))
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": ids,
                "content": [synth_wav_bytes(i % 89) for i in ids],
            }
        )
    )
    rows = {r["media_id"]: r for r in wav_pitch_autocorr(media).collect()}
    assert len(rows) == len(ids)
    for i in ids:
        seed = i % 89
        sr = 8000 + 1000 * ((seed // 2) % 4)
        f0 = 220.0 + (seed % 40) * 5.0
        got = rows[i]["pitch_hz"]
        # quantization: nearest integer lag to sr/f0
        grid_err = f0 * f0 / sr  # one-lag step near f0
        assert abs(got - f0) <= grid_err + 1e-9, (i, got, f0)
        # a pure tone autocorrelates strongly at its period
        assert rows[i]["autocorr_peak"] > 0.5

"""Multimodal column plumbing (X5): image/audio/video as opaque
binary columns + typed metadata, with synthesis, decode and feature
extraction as Arrow-batched Python stages.

`synthesize_media_fixture` and `decode_media` are mapInArrow stages:
they read RecordBatch columns as Python lists and build their output
batches with `operators.local.arrow_rows`, so no pandas frame is
built per batch. The other stages (resize, frames, envelope,
spectral, pitch, stub features) are still mapInPandas.

Decoding is REAL for WAV (RIFF/PCM) and PPM (P6) via the codecs in
codecs.py (Python header parsing, numpy payload math) — `decode_media`
parses genuine container bytes and its outputs are oracle-gated
(multimodal_decode_wav_ppm).
Formats whose codecs need PIL/soundfile/pyav (JPEG, PNG, MP3, MP4)
still raise from `decode_real`; `decode_stub` remains as the
deterministic fake for plumbing tests of arbitrary payloads. The
Spark-side plumbing — binary schema, partition sizing, UDF
signature, Arrow batch shape — is identical for both.

At 100 TB: binary payloads dominate partition size, so
spark.sql.files.maxPartitionBytes (not row count) governs task
sizing; metadata-only passes (hashing, size stats, dedup) must
project away the blob column so the scan prunes it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("sha256_hex", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def to_media_table(df: DataFrame, id_col: str, payload_col: str, media_type: str) -> DataFrame:
    """Wrap an arbitrary string/binary payload column as a typed media
    table: opaque binary content + metadata (byte length, sha256).
    Metadata is computed JVM-side so a metadata-only query never
    deserializes the blob in Python."""
    content = (
        F.col(payload_col)
        if dict(df.dtypes)[payload_col] == "binary"
        else F.encode(F.col(payload_col), "UTF-8")
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        content.alias("content"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(content).cast("long").alias("byte_len"),
        F.lower(F.sha2(content, 256)).alias("sha256_hex"),
    )


def decode_stub(content: bytes, media_type: str, n_features: int = 8) -> list[float]:
    """Deterministic fake decoder: n_features moments of the byte
    stream. Stands in for image-resize / audio-frame-sample /
    video-frame-extract until real codecs are wired in."""
    if not content:
        return [0.0] * n_features
    step = max(1, len(content) // n_features)
    return [
        float(sum(content[i : i + step])) / (255.0 * step)
        for i in range(0, step * n_features, step)
    ]


def decode_real(content: bytes, media_type: str) -> dict:
    """Real byte-level decoding for the formats parseable without a
    codec library: RIFF/WAVE PCM (`audio/wav`) and binary
    PPM (`image/ppm`) — see codecs.py.  Formats that require PIL /
    soundfile / pyav (JPEG, PNG, MP3, MP4) still raise: their codecs
    are not reimplementable here and arrive with those libraries in a
    real deployment."""
    from zoom_spark.multimodal.codecs import decode_ppm, decode_wav

    if media_type == "audio/wav":
        return decode_wav(content)
    if media_type == "image/ppm":
        return decode_ppm(content)
    raise NotImplementedError(
        f"no pure-Python decoder for {media_type!r}; JPEG/PNG/MP3/MP4 "
        "require image/audio libraries not present in this environment "
        "(use decode_stub for plumbing tests)"
    )


def extract_features(media: DataFrame, n_features: int = 8) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, batch shape =
    (media_id, content, media_type, byte_len) -> FEATURE_SCHEMA rows.
    Runs the stub decoder; the real decoder drops in per-row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_stub(bytes(c), mt, n_features)
                for c, mt in zip(pdf["content"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["byte_len"],
                    "feature": feats,
                }
            )

    return media.select("media_id", "content", "media_type", "byte_len").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_units", LongType()),
        StructField("sum_pixels", LongType()),
        StructField("rms_val", DoubleType()),
        StructField("error", StringType()),
    ]
)


SYNTH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),
    ]
)


def synthesize_media_fixture(ids: DataFrame, id_col: str) -> DataFrame:
    """Executor-side media synthesis: even ids encode a sine-burst
    WAV, odd ids a gradient PPM (deterministic per id — see
    codecs.synth_*).  Emits (media_id, content, media_type) with real
    container bytes; at scale this stage is the 'fetch blobs' scan
    and the synthesis stands in for object-store reads."""
    from zoom_spark.multimodal.codecs import synth_ppm_bytes, synth_wav_bytes
    from zoom_spark.operators.local import arrow_rows

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                (i, synth_wav_bytes(i), "audio/wav")
                if i % 2 == 0
                else (i, synth_ppm_bytes(i), "image/ppm")
                for i in batch.column("media_id").to_pylist()
            ]
            yield from arrow_rows(rows, SYNTH_SCHEMA).to_batches()

    # No spread_scan here or in the callers: every Python task costs
    # about 0.2 worker CPU-s whatever its row count (PySpark's per-task
    # setup invalidates the import caches, and each zipimporter then
    # re-reads pyspark.zip), while the numpy codecs make the per-row
    # work small. Spreading a single-split scan over 4 partitions ran
    # 8 Python tasks for this stage and decode_media's instead of 2.
    # At production scale the scan already yields >= cores splits, so
    # the spread gained nothing there either.
    return ids.select(F.col(id_col).cast("long").alias("media_id")).mapInArrow(
        run, schema=SYNTH_SCHEMA
    )


def decode_media(media: DataFrame, permissive: bool = False) -> DataFrame:
    """Arrow-batched REAL decode: parses each row's container bytes
    with the format's codec (decode_real dispatch) and emits typed
    per-format fields (NULL where inapplicable).  This is the honest
    counterpart of extract_features' stub path — header fields and
    statistics come from actually walking the bytes.

    ``permissive=True`` is the 100 TB posture (same design as the
    fetcher's S15 error channel): a corrupt or unsupported blob
    yields a row with NULL fields and the exception text in `error`
    instead of failing the task — one bad object out of a billion
    must not kill a ten-hour job, and error rows stay queryable for
    quarantine/retry."""
    from zoom_spark.operators.local import arrow_rows

    fields = DECODED_SCHEMA.names[3:-1]  # between byte_len and error

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            # columns in the select's order: media_id, content, media_type
            for mid, raw, mt in zip(*(c.to_pylist() for c in batch.columns)):
                n_bytes = len(raw)
                try:
                    d = decode_real(raw, mt)
                except Exception as exc:  # noqa: BLE001 — quarantined below
                    if not permissive:
                        raise
                    error = f"{type(exc).__name__}: {exc}"
                    rows.append((mid, mt, n_bytes, *[None] * len(fields), error))
                    continue
                rows.append((mid, mt, n_bytes, *[d.get(k) for k in fields], None))
            yield from arrow_rows(rows, DECODED_SCHEMA).to_batches()

    return media.select("media_id", "content", "media_type").mapInArrow(
        run, schema=DECODED_SCHEMA
    )


def resize_ppm_media(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """REAL resize pass for PPM media: each batch decodes the P6
    container, nearest-neighbor-resamples the pixel grid, re-encodes
    (codecs.resize_ppm).  Same RESIZED_SCHEMA and Arrow plumbing as
    the stub path — this is the honest counterpart for the format we
    can genuinely decode."""
    from zoom_spark.multimodal.codecs import resize_ppm

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_width": [width] * len(pdf),
                    "out_height": [height] * len(pdf),
                    "content": [
                        resize_ppm(bytes(c), width, height)
                        for c in pdf["content"]
                    ],
                }
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("out_width", LongType()),
        StructField("out_height", LongType()),
        StructField("content", BinaryType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_id", LongType()),
        StructField("frame_offset", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def resize_stub(content: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resize: stride-samples the byte stream down
    to width*height bytes (padding with zeros). Stands in for a PIL
    `Image.resize`; the plumbing (binary in, binary out, metadata
    columns) is what the engine owns."""
    target = width * height
    if not content:
        return bytes(target)
    step = max(1, len(content) // target)
    out = bytes(content[i] for i in range(0, min(len(content), step * target), step))
    return out[:target] + bytes(max(0, target - len(out)))


def resize_media(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """mapInPandas resize pass: one output row per media row with the
    resized payload and output dims. Arrow moves the blobs; task
    sizing is governed by bytes (maxPartitionBytes), not row count."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_width": [width] * len(pdf),
                    "out_height": [height] * len(pdf),
                    "content": [
                        resize_stub(bytes(c), width, height)
                        for c in pdf["content"]
                    ],
                }
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frames(media: DataFrame, n_frames: int = 4, frame_bytes: int = 16) -> DataFrame:
    """mapInPandas frame sampling (the video path): each media row
    expands to n_frames rows at evenly spaced byte offsets — the same
    1-to-N Arrow expansion a real keyframe extractor produces. Frame
    payloads are slices of the source (deterministic stub for an
    ffmpeg/pyav decode)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, offs, frames = [], [], [], []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                data = bytes(c)
                span = max(1, (len(data) - frame_bytes) // max(1, n_frames - 1))
                for f in range(n_frames):
                    off = min(f * span, max(0, len(data) - frame_bytes))
                    ids.append(mid)
                    fids.append(f)
                    offs.append(off)
                    frames.append(data[off : off + frame_bytes])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_id": fids,
                    "frame_offset": offs,
                    "frame": frames,
                }
            )

    return media.select("media_id", "content").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


PPM_FRAME_SCHEMA = (
    "media_id long, frame_id int, width int, height int, "
    "sum_pixels long, mean_r double, mean_g double, mean_b double"
)


def sample_ppm_video_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """REAL frame sampling for the repo's concatenated-PPM video
    container (codecs.split_ppm_frames): each media row's stream is
    split by walking the self-delimiting P6 headers, every k-th frame
    is decoded, and per-frame statistics come out as a 1-to-N Arrow
    expansion — the honest version of the byte-stride sample_frames
    stub, for the one container this repo can truly parse. Work is
    per-row and map-only (no shuffle); at 100 TB the frame explosion
    multiplies rows but never crosses partitions."""
    from zoom_spark.multimodal.codecs import decode_ppm, split_ppm_frames

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "frame_id", "width", "height",
                "sum_pixels", "mean_r", "mean_g", "mean_b",
            )}
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                frames = split_ppm_frames(bytes(c))
                for fid in range(0, len(frames), every_k):
                    d = decode_ppm(frames[fid])
                    out["media_id"].append(mid)
                    out["frame_id"].append(fid)
                    out["width"].append(d["width"])
                    out["height"].append(d["height"])
                    out["sum_pixels"].append(d["sum_pixels"])
                    out["mean_r"].append(round(d["mean_r"], 6))
                    out["mean_g"].append(round(d["mean_g"], 6))
                    out["mean_b"].append(round(d["mean_b"], 6))
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        run, schema=PPM_FRAME_SCHEMA
    )


WAV_SEGMENT_SCHEMA = (
    "media_id long, segment int, n_samples long, rms double, peak double"
)


def wav_energy_envelope(media: DataFrame, n_segments: int = 4) -> DataFrame:
    """Time-resolved audio energy envelope over REAL WAV payloads:
    each media row's PCM stream splits into n_segments spans with
    per-segment RMS and peak — the feature a voice-activity /
    silence-trim curation stage consumes (codecs.wav_segment_rms does
    the decode). Map-only 1-to-N Arrow expansion, mirror of the
    PPM-video frame sampler on the audio side; Python-side decode is
    the documented multimodal exception."""
    from zoom_spark.multimodal.codecs import wav_segment_rms

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "segment", "n_samples", "rms", "peak"
            )}
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                for seg in wav_segment_rms(bytes(c), n_segments):
                    out["media_id"].append(mid)
                    out["segment"].append(seg["segment"])
                    out["n_samples"].append(seg["n_samples"])
                    out["rms"].append(round(seg["rms"], 6))
                    out["peak"].append(round(seg["peak"], 6))
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        run, schema=WAV_SEGMENT_SCHEMA
    )


WAV_SPECTRAL_SCHEMA = (
    "media_id long, n_samples long, bin_hz double, "
    "dominant_freq_hz double, spectral_centroid_hz double"
)


def wav_spectral_features(media: DataFrame) -> DataFrame:
    """Frequency-domain audio features over REAL WAV payloads: decode
    PCM-16, fold channels to mono, rFFT (numpy, Arrow-batched), and
    emit the dominant-bin frequency and the magnitude-weighted
    spectral centroid — the tone/voicing signals an audio-curation
    stage thresholds on (e.g. drop DC-dominated or ultrasonic-alias
    clips). Map-only; the DFT is vectorized numpy inside mapInPandas
    (the documented fast path for dense math the JVM folds can't
    express), one output row per clip."""
    import numpy as np

    from zoom_spark.multimodal.codecs import _parse_wav_pcm16

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "media_id",
                    "n_samples",
                    "bin_hz",
                    "dominant_freq_hz",
                    "spectral_centroid_hz",
                )
            }
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                fmt, samples = _parse_wav_pcm16(bytes(c))
                n_channels, sr = fmt[1], fmt[2]
                x = np.asarray(samples, dtype=np.float64)
                if n_channels > 1:
                    x = x[: len(x) - len(x) % n_channels]
                    x = x.reshape(-1, n_channels).mean(axis=1)
                n = len(x)
                mag = np.abs(np.fft.rfft(x))
                mag[0] = 0.0  # ignore DC for tone features
                freqs = np.fft.rfftfreq(n, d=1.0 / sr)
                dom = float(freqs[int(mag.argmax())]) if mag.any() else 0.0
                cen = (
                    float((freqs * mag).sum() / mag.sum()) if mag.sum() else 0.0
                )
                out["media_id"].append(mid)
                out["n_samples"].append(n)
                out["bin_hz"].append(round(sr / n, 6))
                out["dominant_freq_hz"].append(round(dom, 6))
                out["spectral_centroid_hz"].append(round(cen, 6))
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        run, schema=WAV_SPECTRAL_SCHEMA
    )


WAV_PITCH_SCHEMA = (
    "media_id long, n_samples long, best_lag long, "
    "pitch_hz double, autocorr_peak double"
)


def wav_pitch_autocorr(
    media: DataFrame, f_lo: float = 80.0, f_hi: float = 500.0
) -> DataFrame:
    """Pitch (fundamental-frequency) estimation over REAL WAV
    payloads by NORMALIZED AUTOCORRELATION — the classic time-domain
    pitch tracker (the spectral sibling is wav_spectral_features'
    dominant bin): decode PCM-16, fold channels to mono, compute
    r(τ) = Σ x_t·x_{t+τ} / Σ x_t² for τ in the lag band mapping to
    [f_lo, f_hi] Hz, report the argmax lag and sr/τ*. Vectorized
    numpy inside mapInPandas (Arrow batches); one output row per
    clip. The lag search is a dot-product per candidate lag over a
    bounded band — O(n·lags) with tiny constants; at warehouse scale
    the band stays constant so cost is linear in audio seconds."""
    import numpy as np

    from zoom_spark.multimodal.codecs import _parse_wav_pcm16

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = {
            k: []
            for k in (
                "media_id",
                "n_samples",
                "best_lag",
                "pitch_hz",
                "autocorr_peak",
            )
        }
        for pdf in batches:
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                fmt, samples = _parse_wav_pcm16(bytes(c))
                n_ch, sr = max(1, fmt[1]), fmt[2]
                x = np.asarray(samples, dtype=np.float64)
                if n_ch > 1:
                    x = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch).mean(
                        axis=1
                    )
                x = x - x.mean()
                denom = float(x @ x) or 1.0
                lag_min = max(1, int(np.floor(sr / f_hi)))
                lag_max = min(len(x) - 1, int(np.ceil(sr / f_lo)))
                best_lag, best_r = 0, -np.inf
                for lag in range(lag_min, lag_max + 1):
                    r = float(x[:-lag] @ x[lag:]) / denom
                    if r > best_r:
                        best_r, best_lag = r, lag
                out["media_id"].append(mid)
                out["n_samples"].append(len(x))
                out["best_lag"].append(best_lag)
                out["pitch_hz"].append(
                    round(sr / best_lag, 4) if best_lag else 0.0
                )
                out["autocorr_peak"].append(round(best_r, 6))
        yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        run, schema=WAV_PITCH_SCHEMA
    )

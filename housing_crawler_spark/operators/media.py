"""Audio/video as opaque binary columns with typed metadata (round
instructions: multimodal columns beyond images).

Everything Spark-side is REAL — schemas, Arrow batch shapes,
mapInPandas signatures, partitioning — while the codec layer is split
honestly:

- ``pcm16`` (audio) and ``rawv`` (video) are real, fully-implemented
  lossless codecs (numpy): header + samples / concatenated frames.
  Round-trips are bit-exact (test_media.py).
- compressed formats (``mp3``, ``h264``) are STUBS: this container has
  no ffmpeg/librosa/PyAV, so ``decode_audio``/``iter_frames`` raise
  ``NotImplementedError`` for them — the dispatch point is where a real
  deployment plugs the library in, with zero changes to the Spark
  plumbing around it.

Feature extraction / frame sampling run inside Arrow-batched
``mapInPandas`` (never per-row Python), chunked like the image stage to
bound task memory. Sampled video frames are emitted in the IMAGE
table's shape, so the whole image toolchain (phash, multi-band
near-dup m3, decode-verify m1) composes with video for free.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

AUDIO_SCHEMA = (
    "audio_id string, bytes binary, sample_rate int, n_samples long, "
    "fmt string, caption string"
)
AUDIO_FEATURES_SCHEMA = (
    "audio_id string, fmt string, duration_s double, rms double, "
    "zero_cross_rate double, peak int"
)
VIDEO_SCHEMA = (
    "video_id string, bytes binary, w int, h int, fps double, "
    "n_frames int, fmt string, caption string"
)
FRAME_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

AUDIO_STUB_FMTS = {"mp3", "ogg"}
VIDEO_STUB_FMTS = {"h264", "vp9"}


# ---------------------------------------------------------------------------
# real codecs (lossless)
# ---------------------------------------------------------------------------


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    assert samples.dtype == np.int16 and samples.ndim == 1
    return b"PCM1" + struct.pack("<IQ", sample_rate, len(samples)) + samples.tobytes()


def decode_audio(buf: bytes, fmt: str) -> tuple[np.ndarray, int]:
    if fmt in AUDIO_STUB_FMTS:
        raise NotImplementedError(
            f"{fmt} decode needs ffmpeg/librosa (not in this container); "
            "plug the decoder in here — the Spark stage is format-agnostic"
        )
    assert bytes(buf[:4]) == b"PCM1", "bad audio magic"
    rate, n = struct.unpack("<IQ", buf[4:16])
    return np.frombuffer(buf[16 : 16 + 2 * n], np.int16), rate


def encode_video(frames: np.ndarray, fps: float) -> bytes:
    """frames: (n, h, w) uint8."""
    assert frames.dtype == np.uint8 and frames.ndim == 3
    n, h, w = frames.shape
    return b"RAWV" + struct.pack("<HHHf", w, h, n, fps) + frames.tobytes()


def iter_frames(buf: bytes, fmt: str):
    """Yield (idx, frame ndarray) — the streaming decode surface."""
    if fmt in VIDEO_STUB_FMTS:
        raise NotImplementedError(
            f"{fmt} decode needs PyAV/ffmpeg (not in this container); "
            "plug the demuxer in here — frame sampling downstream is unchanged"
        )
    assert bytes(buf[:4]) == b"RAWV", "bad video magic"
    w, h, n, _fps = struct.unpack("<HHHf", buf[4:14])
    body = np.frombuffer(buf[14:], np.uint8).reshape(n, h, w)
    for i in range(n):
        yield i, body[i]


# ---------------------------------------------------------------------------
# Arrow-batched stages
# ---------------------------------------------------------------------------

CHUNK = 256  # rows per emitted batch — bounds task memory like the image stage


def make_audio_features_stage():
    """audio rows → (duration, rms, zero-crossing rate, peak). Stub
    formats get NULL features (the pipeline keeps flowing, rows are
    marked by fmt)."""

    def stage(it):
        for pdf in it:
            for lo in range(0, len(pdf), CHUNK):
                part = pdf.iloc[lo : lo + CHUNK]
                out = {k: [] for k in ("audio_id", "fmt", "duration_s", "rms", "zero_cross_rate", "peak")}
                for aid, buf, fmt in zip(part["audio_id"], part["bytes"], part["fmt"]):
                    out["audio_id"].append(aid)
                    out["fmt"].append(fmt)
                    if fmt in AUDIO_STUB_FMTS:
                        out["duration_s"].append(None)
                        out["rms"].append(None)
                        out["zero_cross_rate"].append(None)
                        out["peak"].append(None)
                        continue
                    x, rate = decode_audio(bytes(buf), fmt)
                    xf = x.astype(np.float32)
                    out["duration_s"].append(round(len(x) / rate, 6))
                    out["rms"].append(float(np.sqrt(np.mean(xf * xf))))
                    out["zero_cross_rate"].append(
                        float(np.mean(np.signbit(xf[1:]) != np.signbit(xf[:-1])))
                    )
                    out["peak"].append(int(np.max(np.abs(x.astype(np.int32)))))
                yield pd.DataFrame(out)

    return stage


def make_frame_sample_stage(every_k: int = 5):
    """video rows → every k-th frame as an IMAGE-table row (raw codec +
    phash), ready for the image near-dup/decode toolchain. Stub formats
    yield no frames."""
    from .images import encode, phash64

    def stage(it):
        for pdf in it:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for vid, buf, fmt, caption in zip(
                pdf["video_id"], pdf["bytes"], pdf["fmt"], pdf["caption"]
            ):
                if fmt in VIDEO_STUB_FMTS:
                    continue
                for idx, frame in iter_frames(bytes(buf), fmt):
                    if idx % every_k:
                        continue
                    out["image_id"].append(f"{vid}-f{idx}")
                    out["bytes"].append(encode(frame, "raw"))
                    out["w"].append(frame.shape[1])
                    out["h"].append(frame.shape[0])
                    out["fmt"].append("raw")
                    out["caption"].append(caption)
                    out["phash"].append(phash64(frame))
            yield pd.DataFrame(out)

    return stage


def audio_fingerprint64(x: np.ndarray) -> int:
    """64-bit audio fingerprint as SIGNED int64 (the chromaprint idea
    at its smallest: energy-delta signs): the clip splits into 65
    equal frames, bit k = energy(frame k+1) > energy(frame k). Signs
    of energy DELTAS are invariant under uniform gain, so a re-levelled
    copy of a clip fingerprints identically and small additive noise
    flips only the near-tied bits — exactly the locality the banded
    Hamming join needs."""
    n = len(x)
    xf = x.astype(np.float64)
    bounds = (np.arange(66) * n) // 65
    sq = np.concatenate(([0.0], np.cumsum(xf * xf)))
    sums = sq[bounds[1:]] - sq[bounds[:-1]]
    widths = np.maximum(bounds[1:] - bounds[:-1], 1)
    e = sums / widths
    bits = (e[1:] > e[:-1]).astype(np.uint64)
    word = np.uint64(0)
    for b in bits:
        word = (word << np.uint64(1)) | b
    return int(word.astype(np.int64))


def audio_features(audio: DataFrame) -> DataFrame:
    return audio.mapInPandas(make_audio_features_stage(), AUDIO_FEATURES_SCHEMA)


def sample_frames(video: DataFrame, every_k: int = 5) -> DataFrame:
    return video.mapInPandas(make_frame_sample_stage(every_k), FRAME_SCHEMA)

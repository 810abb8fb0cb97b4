"""Multimodal (image) column operators.

Images travel as opaque ``binary`` columns with typed metadata
(``images(image_id, bytes, w, h, fmt, caption, phash)`` — the
input_hint payload schema). Decode / feature-extract / resize run as
Arrow-batched ``mapInPandas`` stages; the codecs are the pure-numpy
ones from ``functions.codecs_np`` (this container has no PIL/cv2, so
unlike a typical stub these decoders actually run — a real deployment
would swap in turbo-jpeg et al. behind the same batch signature).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import codecs_np as C

DECODE_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, phash bigint, phash_rederived bigint, psnr_vs_reencode double"
)


def decode_features(images: DataFrame, n_tasks: int = 32) -> DataFrame:
    """Decode every image, emit channel means + re-derived phash + a
    re-encode PSNR self-check. One Arrow batch in, one out."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # corrupt bytes/metadata degrade to a null-feature row
                # (same per-row contract as sample_frames/audio): the
                # identity survives, decode_ok-style verdicts flag it,
                # and one bad upload can't fail the whole task
                try:
                    img = C.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                    means = img.reshape(-1, 3).mean(axis=0)
                    re_rt = C.decode(C.encode(img, r.fmt), r.fmt, int(r.w), int(r.h))
                    p = C.psnr(img, re_rt)
                except Exception:
                    rows.append(
                        {
                            "image_id": r.image_id, "w": None, "h": None,
                            "fmt": r.fmt, "mean_r": None, "mean_g": None,
                            "mean_b": None, "phash": None,
                            "phash_rederived": None, "psnr_vs_reencode": None,
                        }
                    )
                    continue
                rows.append(
                    {
                        "image_id": r.image_id,
                        "w": int(r.w),
                        "h": int(r.h),
                        "fmt": r.fmt,
                        "mean_r": float(means[0]),
                        "mean_g": float(means[1]),
                        "mean_b": float(means[2]),
                        "phash": int(r.phash) if r.phash is not None else None,
                        "phash_rederived": C.phash64(img),
                        "psnr_vs_reencode": float(min(p, 1e9)),
                    }
                )
            yield pd.DataFrame(rows)

    return images.repartition(n_tasks).mapInPandas(run, schema=DECODE_SCHEMA)


RESIZE_SCHEMA = "image_id string, w int, h int, thumb binary"


def thumbnails(images: DataFrame, size: int = 16, n_tasks: int = 32) -> DataFrame:
    """Area-resize every image to size×size, re-encode lossless."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    img = C.decode(bytes(r.bytes), r.fmt, int(r.w), int(r.h))
                except Exception:
                    # corrupt upload degrades to a null thumb row —
                    # never fails the task (sample_frames contract)
                    rows.append(
                        {"image_id": r.image_id, "w": None, "h": None, "thumb": None}
                    )
                    continue
                chans = [C._resize_area(img[:, :, c].astype(np.float64), size) for c in range(3)]
                thumb = np.clip(np.round(np.stack(chans, axis=-1)), 0, 255).astype(np.uint8)
                rows.append(
                    {"image_id": r.image_id, "w": size, "h": size, "thumb": C.encode_rgb8(thumb)}
                )
            yield pd.DataFrame(rows)

    return images.repartition(n_tasks).mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = (
    "video_id string, frame_idx int, t_ms int, w int, h int, "
    "frame binary, phash bigint"
)


def sample_frames(videos: DataFrame, every_k: int = 4, n_tasks: int = 32) -> DataFrame:
    """Frame-sample opaque video blobs: every k-th frame of the
    concatenated-rgb8 payload, emitted as its own row with a timestamp
    and perceptual hash. One Arrow batch in, one (larger) batch out —
    the standard video→frame fan-out shape for a training-data
    pipeline. A real deployment swaps the frame slicer for a container
    demuxer behind the same batch signature."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                # metadata is untrusted: null/negative dims, a zero
                # fps, or a blob shorter than n_frames*stride
                # (truncated upload) must degrade to skipped frames,
                # not a frombuffer/zero-division/reshape error that
                # fails the whole task — note stride<=0 alone passes
                # a (-16,-16) pair, and int(None) raises before any
                # arithmetic guard
                try:
                    w, h, nf, fps = int(r.w), int(r.h), int(r.n_frames), int(r.fps)
                except (TypeError, ValueError):
                    continue
                if fps <= 0 or w <= 0 or h <= 0 or r.bytes is None:
                    continue
                stride = w * h * 3
                blob = bytes(r.bytes)
                nf = min(nf, len(blob) // stride)
                for k in range(0, nf, every_k):
                    frame = np.frombuffer(
                        blob, dtype=np.uint8, count=stride, offset=k * stride
                    ).reshape(h, w, 3)
                    rows.append(
                        {
                            "video_id": r.video_id,
                            "frame_idx": k,
                            "t_ms": int(k * 1000 / fps),
                            "w": w,
                            "h": h,
                            "frame": frame.tobytes(),
                            "phash": C.phash64(frame),
                        }
                    )
            yield pd.DataFrame(rows)

    return videos.repartition(n_tasks).mapInPandas(run, schema=FRAME_SCHEMA)


AUDIO_SCHEMA = (
    "audio_id string, sr int, n_samples int, duration_ms int, "
    "rms double, peak double, zcr double"
)


def audio_features(audio: DataFrame, n_tasks: int = 32) -> DataFrame:
    """Decode pcm16le blobs and emit per-clip features (duration, RMS,
    peak, zero-crossing rate) — vectorized numpy per batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                blob = bytes(r.bytes) if r.bytes is not None else b""
                # odd-length blob (truncated pcm16): drop the dangling
                # byte rather than crash frombuffer; null/junk sr →
                # duration 0 (int(None) would raise before the sr>0
                # guard and fail the whole task)
                pcm = np.frombuffer(
                    blob[: len(blob) // 2 * 2], dtype="<i2"
                ).astype(np.float64)
                pcm /= 32768.0
                n = len(pcm)
                try:
                    sr = int(r.sr)
                except (TypeError, ValueError):
                    sr = 0
                zc = int(np.count_nonzero(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                rows.append(
                    {
                        "audio_id": r.audio_id,
                        "sr": sr,
                        "n_samples": n,
                        "duration_ms": int(n * 1000 / sr) if sr > 0 else 0,
                        "rms": float(np.sqrt(np.mean(pcm**2))) if n else 0.0,
                        "peak": float(np.max(np.abs(pcm))) if n else 0.0,
                        "zcr": float(zc / max(n - 1, 1)),
                    }
                )
            yield pd.DataFrame(rows)

    return audio.repartition(n_tasks).mapInPandas(run, schema=AUDIO_SCHEMA)

"""Segment-level audio validation — the long-clip shape.

An ASR training corpus has hour-long recordings; clip-level aggregates (one
RMS for the whole file) hide a dead microphone in minute 37.  This module
windows each clip into fixed-length segments inside ONE Arrow decode pass
(`audio_segments`: mapInPandas, partition-preserving — the explode happens
Python-side per batch, no payload shuffle) and emits plain per-segment
feature rows that flow into the same fused `check_data` /
`check_data_by(clip_id)` machinery as everything else.

Contract mirrors the probes: an undecodable container becomes ONE row with
``seg_valid = false`` and NULL features — never an exception, never a
silently missing clip.

The fixture (`long_clips_table`) injects violations at index cadences
(corrupt container, one silenced segment) and gives each segment its own
tone frequency, so a SQL oracle recomputes expected per-rule counts and the
spectral features must track the per-segment ground truth.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .rules import _FULL_SCALE, _decode, _spectral
from .wav import encode_wav_pcm16

__all__ = ["audio_segments", "long_clips_table", "SEGMENT_SCHEMA"]

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType(), True),
        T.StructField("seg_start_ms", T.DoubleType(), True),
        T.StructField("seg_valid", T.BooleanType(), False),
        T.StructField("seg_rms", T.DoubleType(), True),
        T.StructField("seg_dom_freq_hz", T.DoubleType(), True),
        T.StructField("seg_error", T.StringType(), True),
    ]
)


def audio_segments(
    df: DataFrame,
    window_ms: int = 1000,
    clip_id_col: str = "clip_id",
    bytes_col: str = "bytes",
    drop_partial: bool = False,
) -> DataFrame:
    """One row per ``window_ms`` segment of every clip: (seg_idx,
    seg_start_ms, seg_rms, seg_dom_freq_hz).  The final partial window is
    kept by default (its features are computed over the shorter slice);
    ``drop_partial=True`` emits whole windows only."""
    if window_ms <= 0:
        raise ValueError("window_ms must be positive")

    def seg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, blob in zip(pdf[clip_id_col], pdf[bytes_col]):
                cid = str(cid)
                d = _decode(bytes(blob) if blob is not None else None)
                if d is None:
                    rows.append((cid, None, None, False, None, None, "undecodable container"))
                    continue
                samples, sr, _codec = d
                if not len(samples):
                    # decodable but empty — still ONE row, never a silently
                    # missing clip
                    rows.append((cid, None, None, False, None, None, "empty audio (0 samples)"))
                    continue
                win = max(1, int(round(sr * window_ms / 1000.0)))
                n_seg = len(samples) // win if drop_partial else max(
                    1, math.ceil(len(samples) / win)
                )
                if n_seg == 0:
                    # drop_partial on a clip shorter than one window: emit ONE
                    # marker row so the clip is never silently missing (the
                    # contract corrupt/empty clips already honor above)
                    rows.append(
                        (cid, None, None, False, None, None,
                         "no whole window (clip shorter than window_ms)")
                    )
                    continue
                for s in range(n_seg):
                    sl = samples[s * win : (s + 1) * win]
                    if not len(sl):
                        continue
                    x = sl * (1.0 / _FULL_SCALE)
                    rms = float(np.sqrt(np.mean(x * x)))
                    dom, _cent = _spectral(x, sr)
                    rows.append(
                        (cid, s, s * win / sr * 1000.0, True, rms, dom, None)
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    src = df.select(
        df[clip_id_col].cast("string").alias(clip_id_col), df[bytes_col].alias(bytes_col)
    )
    return src.mapInPandas(seg, SEGMENT_SCHEMA)


# ---------------------------------------------------------------------------
# long-clip fixture: multi-second clips, one tone per second, deterministic
# violation cadences — same design as clips_table/videos_table
# ---------------------------------------------------------------------------

LONG_CORRUPT_EVERY = 13  # container truncated (one seg_valid=false row)
LONG_SILENT_EVERY = 5  # segment 1 of these clips is zeroed
LONG_BASE_SEGS = 3  # seconds; + i % 3


def _make_long_row(i: int) -> tuple:
    sr = 8000
    n_seg = LONG_BASE_SEGS + i % 3
    parts = []
    t = np.arange(sr, dtype=np.float64) / sr
    for s in range(n_seg):
        freq = 200.0 + 50.0 * s  # per-segment ground-truth tone
        wave = 0.5 * np.sin(2 * math.pi * freq * t)
        if s == 1 and i > 0 and i % LONG_SILENT_EVERY == 0:
            wave[:] = 0.0
        parts.append(wave)
    blob = encode_wav_pcm16(np.concatenate(parts), sr)
    if i > 0 and i % LONG_CORRUPT_EVERY == 0:
        blob = blob[: len(blob) // 3]
    return (f"long-{i:08d}", bytearray(blob))


def long_clips_table(spark: SparkSession, n: int = 300, num_partitions: int | None = None) -> DataFrame:
    """Long-clip fixture, rows built on executors."""
    num_partitions = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(range(n), num_partitions).map(_make_long_row)
    return spark.createDataFrame(
        rdd,
        T.StructType(
            [
                T.StructField("clip_id", T.StringType(), False),
                T.StructField("bytes", T.BinaryType(), True),
            ]
        ),
    )


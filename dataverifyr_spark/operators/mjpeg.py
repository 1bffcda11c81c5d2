"""MJPEG — REAL pixel decode for a compressed-video format (pure numpy).

Compressed-video pixel access runs through the in-repo baseline JPEG codec
(``operators.jpeg``), so the full chain container-walk → frame-seek →
entropy/DCT decode → luma stats is real.  Two standard MJPEG carriers are
supported:

* **AVI/RIFF** (``RIFF..AVI `` with ``LIST movi`` holding ``00dc`` chunks) —
  the canonical MJPEG container.  ``mjpeg_info`` walks RIFF chunk headers
  with offset arithmetic only; per-frame JPEG payloads are addressed by
  (offset, size) and never touched until sampled.
* **bare concatenated JPEG stream** (``FFD8 .. FFD9`` frames back-to-back,
  the shape produced by IP cameras) — frame boundaries come from a real
  marker walk (segment lengths + entropy-scan byte-stuffing rules), NOT a
  byte search: ``FF D9`` can legally appear inside a table segment payload.

Scale contract (mirrors ``image.y4m_sample_frames``): probing a clip decodes
only every ``every_n``-th frame — container metadata (w, h, n_frames) costs
O(frames) header arithmetic, and pixel cost is bounded by the sample count,
not the clip length.  Reference semantics analog: R dataverifyr has no media
rules; this extends its check_data row-rule model (R/check_data.R:197-253)
to per-clip media predicates.
"""

from __future__ import annotations

import struct

import numpy as np

from .image import ImageError
from .jpeg import decode_jpeg, encode_jpeg

__all__ = [
    "encode_avi_mjpeg",
    "encode_bare_mjpeg",
    "mjpeg_info",
    "mjpeg_sample_frames",
    "mjpeg_videos_table",
]


# ---------------------------------------------------------------------------
# Encoders (fixture side): minimal-but-conformant AVI muxer + bare stream
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """RIFF chunk: fourcc + le32 size + payload (+ pad byte to even)."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_avi_mjpeg(
    frames: np.ndarray, fps: tuple[int, int] = (25, 1), quality: int = 90
) -> bytes:
    """(n, h, w) uint8 gray or (n, h, w, 3) RGB frames → AVI-MJPEG bytes.

    Emits RIFF('AVI ' LIST hdrl(avih, LIST strl(strh 'vids'/'MJPG', strf
    BITMAPINFOHEADER)) LIST movi('00dc' …) idx1) — every structure a real
    demuxer reads."""
    if frames.ndim not in (3, 4) or frames.dtype != np.uint8:
        raise ImageError("encode_avi_mjpeg expects (n, h, w[, 3]) uint8")
    n, h, w = frames.shape[:3]
    payloads = [encode_jpeg(frames[i], quality=quality) for i in range(n)]
    us_per_frame = int(round(1_000_000 * fps[1] / fps[0]))
    max_bytes = max((len(p) for p in payloads), default=0)

    avih = struct.pack(
        "<14I", us_per_frame, max_bytes * fps[0], 0, 0x10, n, 0, 1, max_bytes, w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, fps[1], fps[0], 0, n, max_bytes, 0xFFFFFFFF & -1, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_payload = b"".join(_chunk(b"00dc", p) for p in payloads)
    movi = _list(b"movi", movi_payload)

    # idx1: one 16-byte entry per frame; offsets are relative to the 'movi'
    # list-type fourcc (the common convention)
    idx_entries = []
    off = 4  # past the b"movi" list type
    for p in payloads:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) % 2)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_bare_mjpeg(frames: np.ndarray, quality: int = 90) -> bytes:
    """(n, h, w[, 3]) uint8 frames → concatenated JPEG stream."""
    if frames.ndim not in (3, 4) or frames.dtype != np.uint8:
        raise ImageError("encode_bare_mjpeg expects (n, h, w[, 3]) uint8")
    return b"".join(encode_jpeg(frames[i], quality=quality) for i in range(len(frames)))


# ---------------------------------------------------------------------------
# Container walks (offset arithmetic only — zero pixel decode)
# ---------------------------------------------------------------------------


def _le32(b: bytes, off: int) -> int:
    if off + 4 > len(b):
        raise ImageError("truncated RIFF structure")
    return struct.unpack_from("<I", b, off)[0]


def _avi_info(blob: bytes) -> tuple[int, int, int, list[tuple[int, int]]]:
    if blob[8:12] != b"AVI ":
        raise ImageError("RIFF is not an AVI")
    riff_end = min(8 + _le32(blob, 4), len(blob))
    w = h = n_frames = None
    spans: list[tuple[int, int]] = []
    pos = 12
    while pos + 8 <= riff_end:
        fourcc = blob[pos : pos + 4]
        size = _le32(blob, pos + 4)
        payload_start = pos + 8
        payload_end = payload_start + size
        if payload_end > len(blob):
            raise ImageError("truncated AVI chunk")
        if fourcc == b"LIST":
            list_type = blob[payload_start : payload_start + 4]
            if list_type == b"hdrl":
                # avih is the first subchunk of hdrl
                sub = payload_start + 4
                if blob[sub : sub + 4] != b"avih":
                    raise ImageError("AVI hdrl missing avih")
                avih = blob[sub + 8 : sub + 8 + _le32(blob, sub + 4)]
                if len(avih) < 40:
                    raise ImageError("short avih")
                n_frames = struct.unpack_from("<I", avih, 16)[0]
                w = struct.unpack_from("<I", avih, 32)[0]
                h = struct.unpack_from("<I", avih, 36)[0]
            elif list_type == b"movi":
                sub = payload_start + 4
                while sub + 8 <= payload_end:
                    sc, ssz = blob[sub : sub + 4], _le32(blob, sub + 4)
                    if sub + 8 + ssz > payload_end:
                        raise ImageError("truncated movi chunk")
                    if sc.endswith(b"dc") or sc.endswith(b"db"):
                        spans.append((sub + 8, ssz))
                    sub += 8 + ssz + (ssz % 2)
        pos = payload_end + (size % 2)
    if w is None or h is None:
        raise ImageError("AVI missing hdrl/avih")
    if n_frames != len(spans):
        raise ImageError(f"AVI frame count mismatch: avih={n_frames} movi={len(spans)}")
    return int(w), int(h), len(spans), spans


def _jpeg_walk_end(blob: bytes, start: int) -> tuple[int, int | None, int | None]:
    """Walk ONE JPEG frame's markers from its SOI; return (end_offset_past_EOI,
    w, h) — w/h from the SOF segment if seen.  Real segment-length walk: a
    byte search for FF D9 would mis-split on table payloads containing it."""
    n = len(blob)
    if blob[start : start + 2] != b"\xff\xd8":
        raise ImageError("expected SOI at MJPEG frame boundary")
    pos = start + 2
    w = h = None
    while pos + 2 <= n:
        if blob[pos] != 0xFF:
            raise ImageError(f"JPEG marker expected at {pos}")
        marker = blob[pos + 1]
        if marker == 0xD9:  # EOI
            return pos + 2, w, h
        if marker == 0xD8:
            raise ImageError("nested SOI inside MJPEG frame")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > n:
            break
        seglen = int.from_bytes(blob[pos + 2 : pos + 4], "big")
        if seglen < 2 or pos + 2 + seglen > n:
            raise ImageError("truncated JPEG segment in MJPEG stream")
        if marker in (0xC0, 0xC1, 0xC2) and seglen >= 7:
            h = int.from_bytes(blob[pos + 5 : pos + 7], "big")
            w = int.from_bytes(blob[pos + 7 : pos + 9], "big")
        pos += 2 + seglen
        if marker == 0xDA:  # SOS: skip entropy bytes (FF is stuffed/RSTn)
            while pos + 1 < n:
                if blob[pos] == 0xFF and blob[pos + 1] != 0x00 and not (
                    0xD0 <= blob[pos + 1] <= 0xD7
                ):
                    break
                pos += 1
    raise ImageError("unterminated JPEG frame in MJPEG stream")


def _bare_info(blob: bytes) -> tuple[int, int, int, list[tuple[int, int]]]:
    spans: list[tuple[int, int]] = []
    w = h = None
    pos = 0
    while pos < len(blob):
        end, fw, fh = _jpeg_walk_end(blob, pos)
        if w is None:
            w, h = fw, fh
        spans.append((pos, end - pos))
        pos = end
    if not spans or w is None:
        raise ImageError("empty MJPEG stream")
    return int(w), int(h), len(spans), spans


def mjpeg_info(blob: bytes) -> tuple[int, int, int, list[tuple[int, int]]]:
    """(w, h, n_frames, [(frame_offset, frame_size), ...]) — container walk
    only, no pixel decode.  Dispatches AVI/RIFF vs bare stream on magic."""
    if blob is None or len(blob) < 12:
        raise ImageError("not an MJPEG payload (too short)")
    if blob[:4] == b"RIFF":
        return _avi_info(blob)
    if blob[:2] == b"\xff\xd8":
        return _bare_info(blob)
    raise ImageError("not an MJPEG payload (no RIFF/SOI magic)")


def mjpeg_sample_frames(
    blob: bytes, every_n: int = 1, max_frames: int | None = None
) -> np.ndarray:
    """Decode every ``every_n``-th frame → (k, h, w, 3) uint8.  Only sampled
    frames pay the entropy/DCT cost; the rest are skipped by offset."""
    if every_n < 1:
        raise ImageError("every_n must be >= 1")
    _w, _h, _n, spans = mjpeg_info(blob)
    picked = spans[::every_n]
    if max_frames is not None:
        picked = picked[:max_frames]
    frames = [decode_jpeg(bytes(blob[off : off + size])) for off, size in picked]
    if not frames:
        return np.zeros((0, 0, 0, 3), dtype=np.uint8)
    shape0 = frames[0].shape
    if any(f.shape != shape0 for f in frames):
        raise ImageError("MJPEG frame dimensions vary within the stream")
    return np.stack(frames)


# ---------------------------------------------------------------------------
# Fixture: deterministic index-derived MJPEG clips, violations at pure index
# cadences (same design as image.videos_table) so a SQL oracle recomputes
# expected rule counts.  Carrier alternates AVI / bare stream per index so
# BOTH container walks are driver-gated.
# ---------------------------------------------------------------------------

MJPEG_SHORT_EVERY = 7  # only 2 frames
MJPEG_DARK_EVERY = 11  # all-zero luma
MJPEG_CORRUPT_EVERY = 13  # broken magic
MJPEG_BASE_FRAMES = 5


def _make_mjpeg_row(i: int) -> tuple:
    import numpy as _np

    w, h = 16 + (i % 3) * 8, 16 + (i % 2) * 8
    n_frames = MJPEG_BASE_FRAMES + i % 4
    if i > 0 and i % MJPEG_SHORT_EVERY == 0:
        n_frames = 2
    f, y, x = _np.mgrid[0:n_frames, 0:h, 0:w]
    frames = ((x * 3 + y * 5 + f * 7 + i) % 200 + 50).astype(_np.uint8)
    if i > 0 and i % MJPEG_DARK_EVERY == 0:
        frames[:] = 0
    blob = encode_avi_mjpeg(frames) if i % 2 == 0 else encode_bare_mjpeg(frames)
    if i > 0 and i % MJPEG_CORRUPT_EVERY == 0:
        blob = b"XXXX" + blob[4:]
    return (f"mjpg-{i:08d}", bytearray(blob))


def mjpeg_videos_table(spark, n: int = 400, num_partitions: int | None = None):
    """Generate the MJPEG fixture distributed (rows built on executors)."""
    from pyspark.sql import types as T

    num_partitions = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    rdd = spark.sparkContext.parallelize(range(n), num_partitions).map(_make_mjpeg_row)
    return spark.createDataFrame(
        rdd,
        T.StructType(
            [
                T.StructField("media_id", T.StringType(), False),
                T.StructField("bytes", T.BinaryType(), True),
            ]
        ),
    )

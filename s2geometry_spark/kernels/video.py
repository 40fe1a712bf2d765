"""Minimal indexed video container ("S2V1") over PNG frames.

Video rides through the engine as an opaque binary column with typed
metadata; decode is REAL: the container is a magic header + fps +
frame-offset index + concatenated PNG payloads (kernels.png), so any
frame extracts by byte range without touching the others — the
property that makes distributed frame SAMPLING cheap: a sample-every-k
job reads 1/k of the payload bytes per row instead of transcoding
whole clips.

Layout (little endian):
    0   4   b"S2V1"
    4   2   fps (uint16)
    6   2   n_frames (uint16)
    8   8*n_frames+8   frame byte offsets (uint64, relative to the
                       end of the index; one extra = total size)
    ...  concatenated PNG frame payloads
"""

from __future__ import annotations

import struct

import numpy as np

from . import png as PNG

MAGIC = b"S2V1"


def mux_video(frames: list[np.ndarray], fps: int) -> bytes:
    """(h, w, 3) uint8 frames -> container bytes."""
    payloads = [PNG.encode_png(f) for f in frames]
    offsets = [0]
    for p in payloads:
        offsets.append(offsets[-1] + len(p))
    head = b"".join(
        [
            MAGIC,
            struct.pack("<HH", fps, len(payloads)),
            struct.pack(f"<{len(offsets)}Q", *offsets),
        ]
    )
    return head + b"".join(payloads)


def video_header(data: bytes) -> tuple[int, int, list[int], int]:
    """-> (fps, n_frames, offsets, payload_start)."""
    if data[:4] != MAGIC:
        raise ValueError("not an S2V1 stream")
    fps, n_frames = struct.unpack("<HH", data[4:8])
    offsets = list(
        struct.unpack(f"<{n_frames + 1}Q", data[8 : 8 + 8 * (n_frames + 1)])
    )
    return fps, n_frames, offsets, 8 + 8 * (n_frames + 1)


def extract_frame(data: bytes, k: int) -> np.ndarray:
    """Decode frame k only (byte-range read + PNG decode)."""
    _fps, n_frames, offsets, start = video_header(data)
    if not 0 <= k < n_frames:
        raise IndexError(k)
    return PNG.decode_png(data[start + offsets[k] : start + offsets[k + 1]])

"""Pure-stdlib uncompressed AVI (RIFF/DIB) codec for the multimodal
layer.

Like WAV (``llm/wav.py``), AVI is a RIFF chunk container; with the
BI_RGB (uncompressed) DIB codec its video frames are plain
bottom-up BGR rasters — ``struct``-decodable with no media library.
This makes the VIDEO path of ``llm/multimodal.py`` real (decode →
frame-sample → per-frame PNG), the same way png.py/wav.py made the
image and audio paths real; the stub boundary retreats to compressed
codecs (H.264/VP9), where a real decoder would plug in.

Layout written/read here (the minimal standard-compliant subset):
``RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
LIST('movi' '00db'×n))``. Frames are 24-bit BGR, rows padded to 4
bytes, stored bottom-up (positive biHeight), exactly what any AVI
tool emits for BI_RGB.

Only the codec lives here; distribution (Arrow batching,
``mapInPandas``) stays in ``multimodal.py``.
"""

from __future__ import annotations

import struct

from pos_api_pipeline_spark.llm.png import Image


def is_avi(payload: bytes | None) -> bool:
    """RIFF/AVI magic check (cheap reject before full parse)."""
    return (
        payload is not None
        and len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"AVI "
    )


def _row_stride(width: int) -> int:
    return (width * 3 + 3) & ~3  # BGR rows padded to 4 bytes


def encode_avi(frames: list[Image], fps: int = 10) -> bytes:
    """Encode RGB ``Image`` frames (all same size, channels=3) as an
    uncompressed AVI."""
    if not frames:
        raise ValueError("need at least one frame")
    w, h = frames[0].width, frames[0].height
    for f in frames:
        if (f.width, f.height, f.channels) != (w, h, 3):
            raise ValueError("all frames must be same-size RGB")
    stride = _row_stride(w)
    frame_size = stride * h

    def dib(img: Image) -> bytes:
        out = bytearray()
        for y in range(h - 1, -1, -1):  # bottom-up
            row = img.row(y)
            line = bytearray()
            for x in range(w):
                r, g, b = row[3 * x], row[3 * x + 1], row[3 * x + 2]
                line += bytes((b, g, r))  # BGR
            line += b"\x00" * (stride - 3 * w)
            out += line
        return bytes(out)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        frame_size * fps,  # max bytes per second
        0,                 # padding granularity
        0,                 # flags (no index chunk is written)
        len(frames), 0, 1, frame_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, fps,            # scale / rate → fps
        0, len(frames), frame_size, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _chunks(buf: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        body_start = pos + 8
        yield cid, body_start, body_start + size
        pos = body_start + size + (size % 2)


def decode_avi(payload: bytes) -> tuple[int, list[Image]]:
    """Decode an uncompressed AVI → (fps, RGB frames). Raises on
    non-AVI or compressed streams (the stub boundary)."""
    if not is_avi(payload):
        raise ValueError("not an AVI payload")
    width = height = fps = 0
    frames: list[Image] = []

    def walk(start: int, end: int) -> None:
        nonlocal width, height, fps
        for cid, b0, b1 in _chunks(payload, start, end):
            if cid == b"LIST":
                walk(b0 + 4, b1)
            elif cid == b"avih":
                us_per_frame, = struct.unpack_from("<I", payload, b0)
                width, height = struct.unpack_from("<II", payload, b0 + 32)
                fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
            elif cid == b"strf":
                comp, = struct.unpack_from("<I", payload, b0 + 16)
                if comp != 0:
                    raise NotImplementedError(
                        "compressed AVI streams need a codec library"
                    )
            elif cid in (b"00db", b"00dc"):
                stride = _row_stride(width)
                px = bytearray(width * height * 3)
                for y in range(height):
                    src = b0 + (height - 1 - y) * stride
                    line = payload[src:src + 3 * width]
                    for x in range(width):
                        px[(y * width + x) * 3 + 0] = line[3 * x + 2]
                        px[(y * width + x) * 3 + 1] = line[3 * x + 1]
                        px[(y * width + x) * 3 + 2] = line[3 * x + 0]
                frames.append(Image(width, height, 3, px))

    walk(12, len(payload))
    if not frames:
        raise ValueError("no video frames found")
    return fps, frames


def sample_frames(
    payload: bytes, every_ms: int
) -> list[tuple[int, Image]]:
    """Sample one frame per ``every_ms`` window: frame k is taken at
    timestamps 0, every_ms, 2·every_ms, … (nearest frame at or before
    each tick; duplicates collapsed). Returns [(t_ms, frame), ...]."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    fps, frames = decode_avi(payload)
    if fps <= 0:
        return [(0, frames[0])]
    duration_ms = int(1000 * len(frames) / fps)
    out: list[tuple[int, Image]] = []
    seen: set[int] = set()
    t = 0
    while t < max(duration_ms, 1):
        idx = min(int(t * fps / 1000), len(frames) - 1)
        if idx not in seen:
            seen.add(idx)
            out.append((t, frames[idx]))
        t += every_ms
    return out

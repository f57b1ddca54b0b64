"""Multimodal codecs: numpy encoders and decoders for image and audio
blobs, called inside Arrow-batched kernels.

The image path is REAL: dependency-free numpy codecs for BMP (24-bit
uncompressed, bottom-up or top-down) AND binary PPM (P6, 8-bit maxval,
comment-tolerant header) plus nearest-neighbor resize — ``decode_image``
dispatches on magic bytes and decodes both natively, so mixed-format
image columns exercise real per-row format dispatch. The audio path is
REAL too: ``encode_wav``/``decode_wav`` implement the RIFF/WAVE PCM16
container with proper chunk walking (unknown chunks skipped, word
alignment honored). Formats whose codecs are genuinely absent from this
container (PNG/JPEG/GIF, compressed audio) raise ``NotImplementedError``
with the library a deployment would drop in.
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"GIF8": "gif",
    b"BM": "bmp",
    b"P6": "ppm",
}

_BMP_FILE_HEADER = struct.Struct("<2sIHHI")   # magic, file size, res, res, px offset
_BMP_INFO_HEADER = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER


def bmp_row_size(width: int) -> int:
    """Bytes per stored BMP row: 3 bytes/pixel padded up to 4-byte
    alignment (the BMP spec's stride rule)."""
    return (width * 3 + 3) // 4 * 4


def encode_bmp(img: np.ndarray) -> bytes:
    """H x W x 3 uint8 RGB -> 24-bit uncompressed BMP bytes (BI_RGB,
    bottom-up row order, BGR channel order, 4-byte-aligned rows)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8 array, got shape {img.shape}")
    h, w, _ = img.shape
    row_size = bmp_row_size(w)
    data_size = row_size * h
    rows = np.zeros((h, row_size), dtype=np.uint8)
    bgr = img[::-1, :, ::-1]  # bottom-up rows, RGB -> BGR
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    header = _BMP_FILE_HEADER.pack(b"BM", 54 + data_size, 0, 0, 54)
    info = _BMP_INFO_HEADER.pack(40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP bytes -> H x W x 3 uint8 RGB. Handles
    bottom-up (positive height) and top-down (negative height) images and
    strips the 4-byte row padding."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP blob")
    _, _file_size, _, _, offset = _BMP_FILE_HEADER.unpack_from(data, 0)
    hdr = _BMP_INFO_HEADER.unpack_from(data, 14)
    _hdr_size, w, h, _planes, bpp, compression = hdr[:6]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BMP is supported (got bpp={bpp}, "
            f"compression={compression})")
    if w <= 0 or h == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h}")
    top_down = h < 0
    h = abs(h)
    row_size = bmp_row_size(w)
    if offset + row_size * h > len(data):
        raise ValueError("truncated BMP pixel array")
    px = np.frombuffer(data, dtype=np.uint8, count=row_size * h, offset=offset) \
        .reshape(h, row_size)
    img = px[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        img = img[::-1]
    return np.ascontiguousarray(img)


def encode_ppm(img: np.ndarray) -> bytes:
    """H x W x 3 uint8 RGB -> binary PPM (P6, maxval 255). Pixels are
    row-major top-down RGB — no padding, no channel swap (the simplest
    of the classic raster formats)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError(f"expected HxWx3 uint8 array, got shape {img.shape}")
    h, w, _ = img.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + img.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Binary PPM (P6) bytes -> H x W x 3 uint8 RGB. Full header grammar:
    ASCII tokens (width, height, maxval) separated by whitespace, with
    ``#``-to-end-of-line comments allowed anywhere between tokens, then
    ONE whitespace byte before the raw pixel array."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM blob")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        # skip whitespace and comments between tokens
        while pos < len(data):
            c = data[pos:pos + 1]
            if c.isspace():
                pos += 1
            elif c == b"#":
                nl = data.find(b"\n", pos)
                pos = len(data) if nl < 0 else nl + 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PPM header")
        vals.append(int(data[start:pos]))
    pos += 1  # exactly one whitespace byte separates header from pixels
    w, h, maxval = vals
    if maxval != 255:
        raise NotImplementedError(
            f"only 8-bit PPM is supported (got maxval={maxval})")
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PPM dimensions {w}x{h}")
    need = w * h * 3
    if pos + need > len(data):
        raise ValueError("truncated PPM pixel array")
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=pos)
    return np.ascontiguousarray(px.reshape(h, w, 3))


_WAV_RIFF = struct.Struct("<4sI4s")      # 'RIFF', riff size, 'WAVE'
_WAV_CHUNK = struct.Struct("<4sI")       # chunk id, chunk size
_WAV_FMT = struct.Struct("<HHIIHH")      # audio fmt, channels, rate, byte rate, block align, bits


def encode_wav(samples: np.ndarray, rate: int, channels: int = 1) -> bytes:
    """Canonical PCM16 WAV writer (RIFF + fmt + data): ``samples`` is the
    int16 INTERLEAVED stream (len = frames * channels). Dependency-free
    twin of decode_wav; the audio analog of encode_bmp/encode_ppm."""
    if len(samples) % channels:
        raise ValueError("interleaved length must divide by channels")
    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = (_WAV_RIFF.pack(b"RIFF", 36 + len(data), b"WAVE")
           + _WAV_CHUNK.pack(b"fmt ", 16)
           + _WAV_FMT.pack(1, channels, rate, rate * channels * 2,
                           channels * 2, 16)
           + _WAV_CHUNK.pack(b"data", len(data)))
    return hdr + data


def decode_wav(data: bytes) -> tuple[np.ndarray, int, int]:
    """REAL dependency-free WAV reader: validates the RIFF/WAVE envelope,
    WALKS the chunk list (unknown chunks — LIST/fact/cue — are skipped,
    as in-the-wild files carry them), parses fmt, and returns
    (interleaved int16 samples, sample_rate, channels). PCM16 only —
    compressed or non-16-bit formats raise ``NotImplementedError`` naming
    the production decoder (soundfile/ffmpeg) a deployment drops in."""
    if len(data) < 12:
        raise ValueError("truncated WAV: no RIFF header")
    magic, _, wave = _WAV_RIFF.unpack_from(data, 0)
    if magic != b"RIFF" or wave != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(data):
        cid, sz = _WAV_CHUNK.unpack_from(data, pos)
        body = data[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            if sz < 16 or len(body) < 16:
                raise ValueError("short fmt chunk")
            fmt = _WAV_FMT.unpack_from(body, 0)
        elif cid == b"data":
            if len(body) < sz:
                raise ValueError("truncated WAV: data chunk short")
            raw = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV audio_format={audio_fmt} bits={bits}: only PCM16 is "
            "decoded natively; route compressed audio through "
            "soundfile/ffmpeg in production")
    if channels < 1:
        raise ValueError("WAV fmt declares zero channels")
    samples = np.frombuffer(raw, dtype="<i2")
    if len(samples) % channels:
        raise ValueError("data chunk not divisible by channel count")
    return samples, rate, channels


def resize_nearest(img: np.ndarray, h: int, w: int) -> np.ndarray:
    """Nearest-neighbor resize (floor index map src = dst * src_dim //
    dst_dim) — deterministic, pure numpy."""
    ys = (np.arange(h) * img.shape[0] // h).clip(0, img.shape[0] - 1)
    xs = (np.arange(w) * img.shape[1] // w).clip(0, img.shape[1] - 1)
    return img[ys][:, xs]


def decode_image(data: bytes) -> np.ndarray:
    """Decode an image blob by magic-byte dispatch. BMP and PPM (P6)
    decode natively (pure numpy); formats needing codec libraries absent
    from this container raise with the drop-in library named."""
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    for magic, name in MAGIC.items():
        if data[: len(magic)] == magic:
            raise NotImplementedError(
                f"{name} decoding needs a codec library (PIL/libvips) not "
                "present in this container; BMP/PPM are the built-in paths")
    raise ValueError("unrecognized image format (no known magic bytes)")


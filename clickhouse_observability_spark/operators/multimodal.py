"""EXT multimodal column plumbing (north-star surface).

Image/audio/video payloads are opaque `binary` columns with typed
metadata; the Spark-side machinery — schema, partition-friendly
layout, Arrow-batched mapInPandas transforms, batch shapes — is real
and tested. Decoding is REAL for the public formats a stdlib parser
can handle: PPM/PGM/BMP images (`decode_image`, since r3), full
baseline PNG via stdlib zlib, baseline + progressive JPEG via numpy
(`jpeg.py`), RIFF/WAVE audio (integer PCM, IEEE float, G.711
A-law/mu-law — `decode_audio`), and YUV4MPEG2 video — all since r4.
Other codecs (GIF, TIFF, WebP, FLAC, MP3/AAC, compressed video) have
no in-repo decoder: unless `register_decoder` supplies one, those
paths raise NotImplementedError unless `fake=True`, in which case a deterministic hash-seeded decode stands in so
downstream feature extraction is testable end-to-end.

Scale design: payload bytes travel through Arrow record batches
(mapInPandas), never through Python object pickling row-at-a-time;
feature extraction is embarrassingly parallel (no shuffle); metadata
lives in plain columns so filters (kind, width bounds) prune BEFORE
any payload decoding touches bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),  # images/video
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),  # audio
        T.StructField("duration_ms", T.IntegerType(), True),  # audio/video
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("byte_entropy", T.DoubleType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),  # image-ish feature
        T.StructField("payload_sha", T.StringType(), True),
    ]
)


def make_fake_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                64 + i if kind != "audio" else None,
                48 + i if kind != "audio" else None,
                16000 if kind == "audio" else None,
                1000 + 10 * i if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_real_image_media(spark: SparkSession, n: int = 24, seed: int = 7) -> DataFrame:
    """Media table whose payloads are REAL image bytes (PPM, BMP,
    PNG and JPEG in rotation) — deterministic RGB gradients of varying
    geometry, encoded with the in-repo encoders, so the decode→resize
    path exercises actual pixels (including DEFLATE and DCT
    round-trips) end-to-end."""
    rows = []
    for i in range(n):
        w, h = 5 + (i % 4), 4 + (i % 3)
        rgb = [
            [
                (
                    (r * 37 + c * 11 + i * 13 + seed) % 256,
                    (r * 5 + c * 29 + i * 7) % 256,
                    (r * 17 + c * 3 + i * 23) % 256,
                )
                for c in range(w)
            ]
            for r in range(h)
        ]
        if i % 4 == 3:
            from .jpeg import encode_jpeg

            # near-lossless: the resize/feature tests compare pipeline
            # output against decode_image of the same payload, so lossy
            # is fine; q=100 keeps the pixels visually identical anyway
            payload = encode_jpeg(rgb, quality=100)
        else:
            payload = (encode_ppm, encode_bmp24, encode_png)[i % 4](rgb)
        rows.append((i, "image", bytearray(payload), w, h, None, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _luma(r: int, g: int, b: int) -> int:
    """ITU-R BT.601 luma in pure integer math (deterministic)."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _parse_pnm(b: bytes) -> list[list[int]]:
    """Decode PPM/PGM (P6/P5 binary, P3/P2 ASCII) to gray pixel rows.

    Pure-stdlib parse of the public Netpbm formats: whitespace-separated
    header tokens (magic, width, height, maxval) with '#' comments,
    then raster data — binary (one/three bytes per sample for
    maxval<256) or ASCII decimal samples."""
    magic = b[:2]
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        # skip whitespace and comments
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if pos < len(b) and b[pos : pos + 1] == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        tokens.append(int(b[start:pos]))
    width, height, maxval = tokens
    if width <= 0 or height <= 0 or not (0 < maxval < 256):
        raise ValueError(f"unsupported PNM geometry {width}x{height} maxval={maxval}")
    if magic in (b"P6", b"P5"):
        pos += 1  # exactly one whitespace byte after maxval, then raster
        ch = 3 if magic == b"P6" else 1
        need = width * height * ch
        raster = b[pos : pos + need]
        if len(raster) < need:
            raise ValueError("truncated PNM raster")
        if ch == 3:
            return [
                [
                    _luma(raster[i], raster[i + 1], raster[i + 2])
                    for i in range(r * width * 3, (r + 1) * width * 3, 3)
                ]
                for r in range(height)
            ]
        return [list(raster[r * width : (r + 1) * width]) for r in range(height)]
    # ASCII P3/P2: remaining tokens are decimal samples
    samples = b[pos:].split()
    ch = 3 if magic == b"P3" else 1
    need = width * height * ch
    if len(samples) < need:
        raise ValueError("truncated PNM raster")
    vals = [int(s) for s in samples[:need]]
    if ch == 3:
        return [
            [
                _luma(vals[i], vals[i + 1], vals[i + 2])
                for i in range(r * width * 3, (r + 1) * width * 3, 3)
            ]
            for r in range(height)
        ]
    return [vals[r * width : (r + 1) * width] for r in range(height)]


def _parse_bmp(b: bytes) -> list[list[int]]:
    """Decode uncompressed (BI_RGB) 8/24/32-bit BMP to gray pixel rows.

    Public Windows BITMAPINFOHEADER layout: pixel-data offset at byte
    10, width/height at 18/22 (negative height = top-down), bpp at 28,
    compression at 30. Rows are 4-byte aligned; 24/32-bit pixels are
    BGR(A); 8-bit indexes a BGRA palette following the header."""
    import struct

    if len(b) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError("bad BMP geometry")
    stride = ((bpp * width + 31) // 32) * 4
    # up-front truncation checks: a plausible header over a cut-off
    # payload must fail as ValueError (the error type decode_image's
    # fake=True contract catches), never as an IndexError from deep
    # inside the pixel loops.
    if data_off + height * stride > len(b):
        raise ValueError("truncated BMP raster")
    palette: list[int] | None = None
    if bpp == 8:
        n_colors = struct.unpack_from("<I", b, 46)[0] or 256
        pal_off = 14 + hdr_size
        if n_colors > 256:
            raise ValueError(f"bad BMP palette size {n_colors}")
        if pal_off + 4 * n_colors > len(b):
            raise ValueError("truncated BMP palette")
        palette = [
            _luma(b[pal_off + 4 * i + 2], b[pal_off + 4 * i + 1], b[pal_off + 4 * i])
            for i in range(n_colors)
        ]
        # raster bytes may index past a short declared palette; pad
        # deterministically (black) instead of IndexError-ing per pixel
        palette += [0] * (256 - len(palette))
    rows: list[list[int]] = []
    for ri in range(height):
        src = ri if top_down else height - 1 - ri
        off = data_off + src * stride
        if bpp == 8:
            assert palette is not None
            rows.append([palette[b[off + c]] for c in range(width)])
        else:
            step = bpp // 8
            rows.append(
                [
                    _luma(b[off + c * step + 2], b[off + c * step + 1], b[off + c * step])
                    for c in range(width)
                ]
            )
    return rows


def encode_ppm(rgb_rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Encode RGB pixel rows as a binary P6 PPM (test/sink helper)."""
    h = len(rgb_rows)
    w = len(rgb_rows[0]) if h else 0
    raster = bytes(v for row in rgb_rows for (r, g, bl) in row for v in (r, g, bl))
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def encode_bmp24(rgb_rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Encode RGB pixel rows as an uncompressed 24-bit BMP (test/sink helper)."""
    import struct

    h = len(rgb_rows)
    w = len(rgb_rows[0]) if h else 0
    stride = ((24 * w + 31) // 32) * 4
    raster = bytearray()
    for row in reversed(rgb_rows):  # bottom-up
        line = bytearray()
        for r, g, bl in row:
            line += bytes((bl, g, r))
        line += b"\x00" * (stride - len(line))
        raster += line
    data_off = 54
    file_size = data_off + len(raster)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + bytes(raster)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 interlace pass geometry: (x_start, y_start, x_step, y_step).
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, pos: int, height: int, bpp: int, stride: int
) -> tuple[list[bytes], int]:
    """Undo PNG per-scanline filtering (types 0-4: None/Sub/Up/Average/
    Paeth, spec §9) over `height` scanlines of `stride` bytes starting
    at `raw[pos]`; returns (unfiltered rows, position after raster)."""
    import numpy as np

    rows: list[bytes] = []
    prev = bytes(stride)
    for _ in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("truncated PNG raster")
        ft = raw[pos]
        pos += 1
        cur = bytearray(raw[pos : pos + stride])
        pos += stride
        if ft == 1:  # Sub — per-channel mod-256 cumsum (vectorized:
            # recon[k] = Σ raw[j..k] mod 256, addition distributes)
            a = np.frombuffer(bytes(cur), np.uint8).astype(np.uint64)
            pad = (-len(a)) % bpp
            if pad:
                a = np.concatenate([a, np.zeros(pad, np.uint64)])
            m = a.reshape(-1, bpp)
            cur = bytearray(
                (np.cumsum(m, axis=0) & 0xFF).astype(np.uint8)
                .reshape(-1)[: stride].tobytes())
        elif ft == 2:  # Up — whole-row vector add
            cur = bytearray(
                ((np.frombuffer(bytes(cur), np.uint8).astype(np.uint16)
                  + np.frombuffer(prev, np.uint8)) & 0xFF)
                .astype(np.uint8).tobytes())
        elif ft == 3:  # Average
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                up = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        done = bytes(cur)
        rows.append(done)
        prev = done
    return rows, pos


def _parse_png(b: bytes) -> list[list[int]]:
    """Decode a PNG payload to gray pixel rows — pure stdlib (zlib).

    Full baseline coverage of the public spec (RFC 2083 / W3C PNG):
    chunked container with CRC-32 verification, IHDR geometry, all five
    scanline filters, grayscale (bit depth 1/2/4/8/16), truecolor
    (8/16), palette (1/2/4/8 + PLTE), gray+alpha and RGBA (8/16), and
    both interlace methods (none + Adam7). Alpha is ignored (no
    compositing target); 16-bit samples use the high byte; sub-byte
    grays scale to 0-255; RGB collapses to BT.601 integer luma."""
    import struct
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos = 8
    ihdr: bytes | None = None
    plte: bytes | None = None
    idat = bytearray()
    saw_iend = False
    while pos + 12 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4 : pos + 8]
        if pos + 12 + ln > len(b):
            raise ValueError("truncated PNG chunk")
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG {ctype!r} chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        # ancillary chunks (tRNS, gAMA, tEXt, ...) are CRC-checked and skipped
        pos += 12 + ln
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing or malformed PNG IHDR")
    if not saw_iend:
        raise ValueError("truncated PNG: no IEND")
    width, height, depth, ct, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("unsupported PNG compression/filter/interlace method")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ct)
    valid_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                    4: (8, 16), 6: (8, 16)}
    if channels is None or depth not in valid_depths[ct]:
        raise ValueError(f"bad PNG color type {ct} / bit depth {depth}")
    if width == 0 or height == 0 or width * height > 1 << 26:
        raise ValueError(f"bad PNG geometry {width}x{height}")
    pal: list[int] | None = None
    if ct == 3:
        if plte is None or len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError("missing or malformed PNG PLTE")
        pal = [
            _luma(plte[3 * i], plte[3 * i + 1], plte[3 * i + 2])
            for i in range(len(plte) // 3)
        ]
        pal += [0] * (256 - len(pal))  # out-of-range indexes decode black
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"bad PNG zlib stream: {e}") from None

    maxval = (1 << depth) - 1

    import numpy as np

    def pass_pixels(rows: list[bytes], wp: int) -> list[list[int]]:
        """All of a pass's scanlines to gray in ONE numpy shot (r11:
        was a per-pixel Python loop — the measured PNG decode
        bottleneck once filters vectorized). Same integer math as
        the scalar path: BT.601 luma (299r+587g+114b)//1000, palette
        take, high byte of 16-bit samples, sub-byte scale
        s*255//maxval — floor divisions over non-negative ints, so
        bit-identical (golden tests unchanged)."""
        hp = len(rows)
        stride = len(rows[0]) if rows else 0
        mat = np.frombuffer(b"".join(rows), np.uint8).reshape(hp, stride)
        if depth == 8:
            px = mat[:, : wp * channels].reshape(hp, wp, channels)
            samples = px.astype(np.int32)
        elif depth == 16:  # high byte of each big-endian sample
            px = mat[:, : wp * channels * 2].reshape(hp, wp, channels, 2)
            samples = px[:, :, :, 0].astype(np.int32)
        else:  # sub-byte grays: unpack depth-bit fields, MSB first
            bits = np.unpackbits(mat, axis=1)
            fields = bits[:, : wp * depth].reshape(hp, wp, depth)
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int32)
            samples = (fields.astype(np.int32) * weights).sum(axis=2)
            samples = samples[:, :, None]
        if ct in (2, 6):  # truecolor (+alpha): BT.601 integer luma
            gray = (299 * samples[:, :, 0] + 587 * samples[:, :, 1]
                    + 114 * samples[:, :, 2]) // 1000
        elif ct == 3:
            assert pal is not None
            gray = np.take(np.asarray(pal, np.int32),
                           samples[:, :, 0])
        else:  # grayscale (+alpha)
            gray = samples[:, :, 0]
            if depth < 8:
                gray = gray * 255 // maxval
        return gray.tolist()

    def decode_pass(pos: int, wp: int, hp: int) -> tuple[list[list[int]], int]:
        stride = (depth * channels * wp + 7) // 8
        bpp = max(1, depth * channels // 8)
        rows, pos = _png_unfilter(raw, pos, hp, bpp, stride)
        return pass_pixels(rows, wp), pos

    rpos = 0
    if interlace == 0:
        out, rpos = decode_pass(0, width, height)
    else:  # Adam7: seven independently-filtered sub-images, scattered
        out = [[0] * width for _ in range(height)]
        for x0, y0, dx, dy in _ADAM7:
            wp = (width - x0 + dx - 1) // dx
            hp = (height - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sub, rpos = decode_pass(rpos, wp, hp)
            for ry in range(hp):
                orow = out[y0 + ry * dy]
                srow = sub[ry]
                for rx in range(wp):
                    orow[x0 + rx * dx] = srow[rx]
    if rpos != len(raw):
        raise ValueError("PNG raster length mismatch")
    return out


def encode_png(
    rgb_rows: list[list[tuple[int, int, int]]], interlace: int = 0
) -> bytes:
    """Encode RGB pixel rows as an 8-bit truecolor PNG (filter 0 per
    scanline, optional Adam7 interlace) — pure-stdlib test/sink helper,
    the compressed-format analog of encode_ppm/encode_bmp24."""
    import struct
    import zlib

    h = len(rgb_rows)
    w = len(rgb_rows[0]) if h else 0

    def chunk(t: bytes, d: bytes) -> bytes:
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1 if interlace else 0)
    if not interlace:
        raster = b"".join(
            b"\x00" + bytes(v for px in row for v in px) for row in rgb_rows
        )
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            for ry in range(hp):
                row = rgb_rows[y0 + ry * dy]
                parts.append(
                    b"\x00" + bytes(v for rx in range(wp) for v in row[x0 + rx * dx])
                )
        raster = b"".join(parts)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Pluggable decoder registry (r6). The pure-Python codecs below are
# the in-container baseline; a deployment with real codec libraries
# (PIL, soundfile, ffmpeg bindings) swaps them in WITHOUT forking
# this module:
#
#     from clickhouse_observability_spark.operators import multimodal
#     multimodal.register_decoder("image", "jpeg", my_pil_decoder)
#     multimodal.register_decoder("video", "*", my_ffmpeg_decoder)
#
# Contract: the callable takes the raw payload bytes and returns the
# same shape the stdlib decoder would (image: gray pixel rows;
# audio: (rate, samples); video: (fps_num, fps_den, frames)). It
# must be a PICKLABLE top-level callable: decode runs inside Arrow
# mapInPandas workers, which are separate Python processes, so
# module-level registry state mutated on the driver is NOT visible
# there — every mapInPandas builder therefore captures a
# `decoder_snapshot(kind)` at plan-build time and ships it in the
# closure. Register decoders BEFORE building the DataFrame; frames
# built earlier keep the decoders they captured. The format key is
# the sniffed container ("jpeg", "png", "wav", "y4m", ...); "*"
# catches formats the sniffers don't recognize (AVIF, MP3, MP4 ...),
# which is exactly where native codecs extend coverage beyond the
# stdlib set.
# ---------------------------------------------------------------------------

_DECODER_KINDS = ("image", "audio", "video")
_DECODERS: dict[str, dict] = {k: {} for k in _DECODER_KINDS}


def register_decoder(kind: str, fmt: str, fn) -> None:
    """Install `fn` as the decoder for (kind, fmt), overriding the
    stdlib path. See the registry contract comment above."""
    if kind not in _DECODER_KINDS:
        raise ValueError(f"decoder kind must be one of {_DECODER_KINDS}")
    if not callable(fn):
        raise TypeError("decoder must be callable")
    _DECODERS[kind][fmt] = fn


def unregister_decoder(kind: str, fmt: str) -> None:
    _DECODERS.get(kind, {}).pop(fmt, None)


def decoder_snapshot(kind: str) -> dict:
    """The registered decoders for `kind`, frozen for shipping into
    an Arrow-batched worker closure (called at plan-build time by
    every mapInPandas builder here)."""
    return dict(_DECODERS[kind])


def sniff_image_format(b: bytes) -> str | None:
    if b[:2] in (b"P6", b"P5", b"P3", b"P2") and len(b) > 2 \
            and b[2:3].isspace():
        return "pnm"
    if b[:2] == b"BM":
        return "bmp"
    if b[:8] == _PNG_SIG:
        return "png"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        return "webp"
    return None


def sniff_audio_format(b: bytes) -> str | None:
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"fLaC":
        return "flac"
    return None


def sniff_video_format(b: bytes) -> str | None:
    if b.startswith(b"YUV4MPEG2"):
        return "y4m"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


def _registered(decoders, sniff, b: bytes):
    """The registered override for payload `b`, if any: exact format
    key first, then the '*' catch-all."""
    if not decoders:
        return None
    fmt = sniff(b)
    fn = decoders.get(fmt) if fmt is not None else None
    return fn if fn is not None else decoders.get("*")


def decode_image(payload: bytes, fake: bool = False,
                 decoders: dict | None = None) -> list[list[int]]:
    """Decode an image payload to gray pixel rows.

    REAL for the public formats a stdlib(+numpy) parser can handle —
    PPM/PGM (P6/P5/P3/P2), BMP (BI_RGB 8/24/32-bit), PNG (full
    baseline: all color types, bit depths 1-16, all five filters,
    Adam7; DEFLATE via stdlib zlib), JPEG (baseline SOF0/SOF1 AND
    progressive SOF2, any chroma subsampling, restart intervals; see
    `jpeg.py`) — RGB collapsed to BT.601 integer luma (for JPEG that
    IS the Y plane). Remaining formats (GIF/TIFF/WebP/...) raise
    NotImplementedError
    unless fake=True, in which case a deterministic hash-seeded 8x8
    tile stands in so downstream plumbing stays testable with
    arbitrary bytes.
    """
    b = bytes(payload or b"")
    fn = _registered(decoders, sniff_image_format, b)
    if fn is not None:
        return fn(b)
    if b[:2] in (b"P6", b"P5", b"P3", b"P2") and len(b) > 2 and b[2:3].isspace():
        try:
            return _parse_pnm(b)
        except ValueError:
            if not fake:
                raise  # with fake=True, malformed PNM falls through to the tile
    if b[:2] == b"BM" and len(b) >= 54:
        try:
            return _parse_bmp(b)
        except ValueError:
            if not fake:
                raise
    if b[:8] == _PNG_SIG:
        try:
            return _parse_png(b)
        except ValueError:
            if not fake:
                raise
    if b[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_luma

        try:
            return decode_jpeg_luma(b)
        except ValueError:
            if not fake:
                raise  # arithmetic/lossless/12-bit modes land here too
    if not fake:
        raise NotImplementedError(
            "remaining image formats (GIF, TIFF, WebP, AVIF/HEIC, ...) "
            "need codec libraries not installed here; supported real "
            "formats are PPM/PGM/BMP/PNG and JPEG (baseline + "
            "progressive) — or pass fake=True for the deterministic "
            "test decode"
        )
    h = hashlib.sha256(b).digest()
    return [[h[(r * 8 + c) % 32] for c in range(8)] for r in range(8)]


def encode_wav(
    samples: list[int], sample_rate: int = 16000, n_channels: int = 1
) -> bytes:
    """Encode PCM16 samples (interleaved if stereo) as a RIFF/WAVE
    payload — pure-stdlib test/sink helper, the audio analog of
    encode_ppm/encode_bmp24."""
    import struct

    raw = b"".join(struct.pack("<h", max(-32768, min(32767, s))) for s in samples)
    block_align = 2 * n_channels
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _ulaw_expand(v: int) -> float:
    """G.711 mu-law byte -> linear in [-1, 1] (ITU-T G.711 decode)."""
    v = ~v & 0xFF
    sign = v & 0x80
    exp = (v >> 4) & 0x07
    mant = v & 0x0F
    mag = ((mant << 3) + 0x84 << exp) - 0x84
    return (-mag if sign else mag) / 32124.0


def _alaw_expand(v: int) -> float:
    """G.711 A-law byte -> linear in [-1, 1] (ITU-T G.711 decode;
    note the A-law sign convention is INVERTED vs mu-law: bit 7 SET
    means positive)."""
    v ^= 0x55
    sign = v & 0x80
    exp = (v >> 4) & 0x07
    mant = v & 0x0F
    if exp == 0:
        mag = (mant << 4) + 8
    else:
        mag = ((mant << 4) + 0x108) << (exp - 1)
    return (mag if sign else -mag) / 32768.0


def _parse_wav(b: bytes) -> tuple[int, int, list[float]]:
    """Decode RIFF/WAVE audio to (sample_rate, n_channels, mono float
    samples in [-1, 1]; stereo+ downmixed by channel mean). Formats:
    integer PCM (tag 1, 8/16-bit), IEEE float (tag 3, 32/64-bit), and
    the G.711 telephony companders A-law (tag 6) / mu-law (tag 7) —
    all from the public RIFF/WAVE + G.711 specs. RIFF layout: 'RIFF'
    size 'WAVE' then tagged chunks; 'fmt ' carries the format fields,
    'data' the interleaved frames. Truncation anywhere -> ValueError
    (the type decode_audio's fake=True contract catches), same
    contract as the image parsers."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data = 12, None, None
    fact_samples = None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        if pos + 8 + size > len(b):
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt_chunk = struct.unpack_from("<HHIIHH", b, pos + 8)
            fmt_raw = b[pos + 8 : pos + 8 + size]
        elif tag == b"fact" and size >= 4 and pos + 12 <= len(b):
            fact_samples = struct.unpack_from("<I", b, pos + 8)[0]
        elif tag == b"data":
            data = b[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("missing fmt /data chunk")
    audio_format, n_ch, rate, _byte_rate, block_align, bits = fmt_chunk
    if audio_format == 0x11:  # IMA ADPCM: block-structured, own path
        if bits != 4:
            raise ValueError("IMA ADPCM must be 4-bit")
        # wSamplesPerBlock rides in the fmt extension (cbSize=2)
        spb = 1 + (block_align - 4 * n_ch) * 2 // n_ch
        if len(fmt_raw) >= 20:
            spb = struct.unpack_from("<H", fmt_raw, 18)[0]
        decoded = _parse_wav_ima_adpcm(data, n_ch, block_align, spb)
        if fact_samples is not None:  # trim final-block padding
            decoded = decoded[:fact_samples]
        return rate, n_ch, decoded
    valid = {1: (8, 16), 3: (32, 64), 6: (8,), 7: (8,)}
    if audio_format not in valid:
        raise ValueError(
            f"unsupported WAV format {audio_format} (PCM/float/G.711/"
            "IMA-ADPCM only)"
        )
    if bits not in valid[audio_format] or n_ch < 1:
        raise ValueError(f"unsupported WAV layout: {bits}-bit, {n_ch}ch")
    if block_align != n_ch * bits // 8:
        raise ValueError("inconsistent WAV block alignment")
    n_frames = len(data) // block_align
    n = n_frames * n_ch
    vals: list[float]
    if audio_format == 1 and bits == 16:
        vals = [v / 32768.0 for v in struct.unpack_from(f"<{n}h", data)]
    elif audio_format == 1:  # 8-bit PCM is unsigned, midpoint 128
        vals = [(v - 128) / 128.0 for v in data[:n]]
    elif audio_format == 3:
        kind = "f" if bits == 32 else "d"
        # unnormalized float masters can exceed full scale; clamp so
        # the documented [-1, 1] contract holds on every format path
        vals = [
            -1.0 if v < -1.0 else (1.0 if v > 1.0 else v)
            for v in struct.unpack_from(f"<{n}{kind}", data)
        ]
    elif audio_format == 6:
        vals = [_alaw_expand(v) for v in data[:n]]
    else:  # 7: mu-law
        vals = [_ulaw_expand(v) for v in data[:n]]
    out: list[float] = []
    for f in range(n_frames):
        frame = vals[f * n_ch : (f + 1) * n_ch]
        out.append(sum(frame) / n_ch)
    return rate, n_ch, out


def decode_audio(payload: bytes, fake: bool = False,
                 decoders: dict | None = None) -> tuple[int, list[float]]:
    """Decode an audio payload to (sample_rate, mono float samples).

    REAL for the public RIFF/WAVE family — integer PCM 8/16-bit, IEEE
    float 32/64-bit, and G.711 A-law/mu-law telephony companding (r4),
    any channel count (downmixed), via pure-stdlib byte parsing.
    Compressed codecs (FLAC/MP3/AAC/Opus/...) need a decoder library
    not present in this container: they raise NotImplementedError unless fake=True, in
    which case a deterministic hash-seeded 256-sample clip stands in
    so downstream plumbing stays testable with arbitrary bytes — the
    exact contract decode_image has for unsupported image formats."""
    b = bytes(payload or b"")
    fn = _registered(decoders, sniff_audio_format, b)
    if fn is not None:
        return fn(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        try:
            rate, _n_ch, samples = _parse_wav(b)
            return rate, samples
        except ValueError:
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            "compressed audio formats require a codec library not installed "
            "here; the supported real format is RIFF/WAVE PCM — or pass "
            "fake=True for the deterministic test decode"
        )
    h = hashlib.sha256(b).digest()
    return 16000, [(h[i % 32] - 128) / 128.0 for i in range(256)]


def make_real_audio_media(
    spark: SparkSession, n: int = 24, seed: int = 11
) -> DataFrame:
    """Media table whose payloads are REAL audio bytes — WAV PCM —
    deterministic integer sine-ish tones of varying
    length/rate/channels, so the decode→features path runs on actual
    samples end-to-end."""
    import math

    rows = []
    for i in range(n):
        rate = (8000, 16000, 22050)[i % 3]
        n_ch = 1 + (i % 2)
        n_frames = 400 + 40 * i
        freq = 100.0 + 37.0 * i + seed
        samples = []
        for t in range(n_frames):
            v = int(12000 * math.sin(2 * math.pi * freq * t / rate))
            samples.extend([v] * n_ch)  # identical channels: downmix-exact
        payload = encode_wav(samples, sample_rate=rate, n_channels=n_ch)
        rows.append(
            (i, "audio", bytearray(payload), None, None, rate,
             int(n_frames * 1000 / rate))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("payload_sha", T.StringType(), True),
    ]
)


def extract_audio_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched audio feature extraction over the binary column:
    duration, RMS level, peak, zero-crossing rate — the triage
    features an audio-corpus pipeline filters on (silence, clipping,
    tone-vs-speech) before any expensive model touches the clip.

    Same plumbing contract as extract_features: audio only (the
    metadata filter prunes before payload bytes are read), payloads
    arrive per Arrow batch, numpy does the per-clip math, no shuffle
    anywhere. The decode is REAL for WAV/PCM (decode_audio); swap in
    a codec library for compressed formats and nothing else changes.
    """

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("audio")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "sample_rate": [], "n_samples": [], "duration_ms": [],
                "rms": [], "peak": [], "zero_cross_rate": [], "payload_sha": [],
            }
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                rate, samples = decode_audio(b, fake=fake_decode, decoders=_dec)
                arr = np.asarray(samples, dtype=np.float64)
                n = len(arr)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(int(n * 1000 / rate) if rate else 0)
                if n:
                    out["rms"].append(float(np.sqrt(np.mean(arr * arr))))
                    out["peak"].append(float(np.max(np.abs(arr))))
                    signs = np.signbit(arr)
                    out["zero_cross_rate"].append(
                        float(np.count_nonzero(signs[1:] != signs[:-1]) / n)
                    )
                else:
                    out["rms"].append(math.nan)
                    out["peak"].append(math.nan)
                    out["zero_cross_rate"].append(math.nan)
                out["payload_sha"].append(hashlib.sha256(b).hexdigest())
            yield pd.DataFrame(out)

    clips = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return clips.mapInPandas(_batch, AUDIO_FEATURE_SCHEMA)


def encode_y4m(
    frames: list[list[list[int]]], fps_num: int = 25, fps_den: int = 1
) -> bytes:
    """Encode gray frames (pixel rows, all same geometry) as a
    YUV4MPEG2 4:2:0 payload (U/V planes at the 128 midpoint) —
    pure-stdlib test/sink helper, the video analog of encode_ppm."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = len(frames[0]), len(frames[0][0])
    if w % 2 or h % 2:
        raise ValueError("4:2:0 needs even frame dimensions")
    head = f"YUV4MPEG2 W{w} H{h} F{fps_num}:{fps_den} Ip A1:1 C420\n"
    uv = bytes([128]) * ((w // 2) * (h // 2))
    out = [head.encode()]
    for fr in frames:
        if len(fr) != h or any(len(r) != w for r in fr):
            raise ValueError("inconsistent frame geometry")
        y = bytes(v & 0xFF for row in fr for v in row)
        out.append(b"FRAME\n" + y + uv + uv)
    return b"".join(out)


def _parse_y4m_planes(b: bytes) -> tuple[int, int, int, int, list[bytes]]:
    """Decode a YUV4MPEG2 4:2:0 payload to (fps_num, fps_den, w, h,
    per-frame Y-plane byte slices). Public y4m layout: one ASCII
    header line 'YUV4MPEG2 W<w> H<h> F<num>:<den> ...', then per
    frame a 'FRAME...' line + planar YUV bytes. Chroma is dropped
    (the gray pipeline consumes luma, as with the image decoders).
    Planes stay BYTES — a frame-sampling consumer materializes only
    the frames it actually uses (a nested-int-list frame costs ~28
    bytes/pixel; the plane slice costs 1). Truncation -> ValueError,
    matching the PNM/BMP/WAV parsers."""
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    fps_num, fps_den = 25, 1
    for tok in b[:nl].split()[1:]:
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F" and ":" in t:
            fps_num, fps_den = (int(x) for x in t[1:].split(":"))
        elif t[0] == "C" and t not in (
            "C420", "C420jpeg", "C420paldv", "C420mpeg2",  # same plane layout
        ):
            raise ValueError(f"unsupported y4m chroma {t}")
    # strictly positive AND even: a negative even width passes a bare
    # parity check (-2 % 2 == 0) and drives the frame cursor BACKWARD
    # -> infinite loop; the PNM/BMP parsers make the same demand
    if not w or not h or w <= 0 or h <= 0 or w % 2 or h % 2:
        raise ValueError("bad y4m geometry")
    if fps_num <= 0 or fps_den <= 0:
        raise ValueError("bad y4m frame rate")
    y_size, uv_size = w * h, (w // 2) * (h // 2)
    planes: list[bytes] = []
    pos = nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or b[pos : pos + 5] != b"FRAME":
            raise ValueError("bad y4m frame marker")
        data_start = fnl + 1
        if data_start + y_size + 2 * uv_size > len(b):
            raise ValueError("truncated y4m frame")
        planes.append(b[data_start : data_start + y_size])
        pos = data_start + y_size + 2 * uv_size
    if not planes:
        raise ValueError("y4m payload with zero frames")
    return fps_num, fps_den, w, h, planes


def _parse_y4m(b: bytes) -> tuple[int, int, list[list[list[int]]]]:
    """decode_video's list-of-rows form of _parse_y4m_planes."""
    fps_num, fps_den, w, h, planes = _parse_y4m_planes(b)
    frames = [
        [list(y[r * w : (r + 1) * w]) for r in range(h)] for y in planes
    ]
    return fps_num, fps_den, frames


def decode_video(
    payload: bytes, fake: bool = False, decoders: dict | None = None
) -> tuple[int, int, list[list[list[int]]]]:
    """Decode a video payload to (fps_num, fps_den, gray frames).

    REAL for the public formats a stdlib parser can handle —
    YUV4MPEG2 4:2:0 (luma plane only, like the image decoders).
    Animated GIF and compressed codecs (H.264/VP9/AV1 in
    MP4/WebM/...) need decoder libraries not in this container: they raise NotImplementedError unless
    fake=True, which yields a deterministic hash-seeded 4-frame 8x8
    clip at 25 fps — the same gating contract as
    decode_image/decode_audio."""
    b = bytes(payload or b"")
    fn = _registered(decoders, sniff_video_format, b)
    if fn is not None:
        return fn(b)
    if b.startswith(b"YUV4MPEG2"):
        try:
            return _parse_y4m(b)
        except ValueError:
            if not fake:
                raise
    if not fake:
        raise NotImplementedError(
            "compressed video formats require a codec library not installed "
            "here; the supported real format is YUV4MPEG2 — "
            "or pass fake=True for the deterministic test decode"
        )
    h = hashlib.sha256(b).digest()
    return 25, 1, [
        [[h[(f * 11 + r * 8 + c) % 32] for c in range(8)] for r in range(8)]
        for f in range(4)
    ]


def make_real_video_media(
    spark: SparkSession, n: int = 24, seed: int = 5
) -> DataFrame:
    """Media table whose payloads are REAL video bytes — y4m —
    deterministic moving-gradient clips of varying
    geometry/length/rate, so frame extraction runs on actual decoded
    frames end-to-end."""
    rows = []
    for i in range(n):
        w, h = 8 + 2 * (i % 3), 6 + 2 * (i % 2)
        fps = (10, 25)[i % 2]
        n_frames = 4 + i % 5
        frames = [
            [
                [(r * 31 + c * 7 + f * 41 + seed + i) % 256 for c in range(w)]
                for r in range(h)
            ]
            for f in range(n_frames)
        ]
        payload = encode_y4m(frames, fps_num=fps)
        rows.append(
            (i, "video", bytearray(payload), w, h, None,
             int(n_frames * 1000 / fps))
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_ms", T.IntegerType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("frame_sha", T.StringType(), True),
    ]
)


def extract_frames(
    media: DataFrame, every_ms: int = 500, fake_decode: bool = True
) -> DataFrame:
    """REAL frame sampling: decode each video payload, pick the frame
    at each `every_ms` timestamp (index = floor(ms * fps / 1000),
    clamped to the clip), and emit its geometry, mean luma and
    content sha — the materialization of frame_sample_plan's pure
    column plan, over actual decoded frames for y4m payloads.

    Same Arrow plumbing contract as the other extractors: videos
    only, metadata prunes before payloads move, per-clip work is
    bounded by clip length, no shuffle anywhere. Timestamps are
    endpoint-INCLUSIVE (0, every_ms, ..., duration_ms) to match
    frame_sample_plan's F.sequence exactly — a consumer joining plan
    rows to extracted frames must find every one. For real y4m
    payloads only the SAMPLED frames materialize (zero-copy plane
    slices -> np.frombuffer), never the whole clip."""
    every_ms = int(every_ms)
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("video")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {
                "media_id": [], "frame_ms": [], "frame_idx": [],
                "width": [], "height": [], "mean_luma": [], "frame_sha": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                # a registered decoder overrides the zero-copy y4m
                # fast path too — the registry's "override wins"
                # contract must hold on every decode route (review r6)
                if _registered(_dec, sniff_video_format, b) is not None:
                    fps_num, fps_den, frames = decode_video(
                        b, fake=fake_decode, decoders=_dec
                    )

                    def fr_at(idx, _f=frames):
                        return np.asarray(_f[idx], dtype=np.uint8)

                    n = len(frames)
                    planes_ok = True
                else:
                    planes_ok = False
                try:
                    if not planes_ok:
                        fps_num, fps_den, w, h, planes = _parse_y4m_planes(b)

                        def fr_at(idx, _w=w, _h=h, _p=planes):
                            return np.frombuffer(
                                _p[idx], dtype=np.uint8
                            ).reshape(_h, _w)

                        n = len(planes)
                except ValueError:
                    # not (valid) y4m: decode_video applies a
                    # registered decoder or raises the canonical
                    # gating errors — ValueError for a malformed y4m,
                    # NotImplementedError for a compressed/unknown
                    # container
                    fps_num, fps_den, frames = decode_video(
                        b, fake=fake_decode, decoders=_dec
                    )

                    def fr_at(idx, _f=frames):
                        return np.asarray(_f[idx], dtype=np.uint8)

                    n = len(frames)
                dur_ms = int(n * 1000 * fps_den / fps_num)
                for ms in range(0, dur_ms + 1, every_ms):
                    idx = min(n - 1, ms * fps_num // (1000 * fps_den))
                    fr = fr_at(idx)
                    out["media_id"].append(mid)
                    out["frame_ms"].append(ms)
                    out["frame_idx"].append(idx)
                    out["height"].append(fr.shape[0])
                    out["width"].append(fr.shape[1])
                    out["mean_luma"].append(float(fr.mean()))
                    out["frame_sha"].append(
                        hashlib.sha256(fr.tobytes()).hexdigest()
                    )
            yield pd.DataFrame(out)

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(_batch, FRAME_SCHEMA)


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    mapInPandas: each Arrow batch arrives as a pandas DataFrame; numpy
    does the per-payload math; output batches conform to
    FEATURE_SCHEMA. Metadata filters should be applied BEFORE calling
    this (column pruning means un-selected payloads never leave
    parquet)."""
    import math

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("image")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [], "byte_entropy": [], "mean_luma": [], "payload_sha": [],
            }
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                arr = np.frombuffer(b, dtype=np.uint8)
                out["n_bytes"].append(len(b))
                if len(b):
                    counts = np.bincount(arr, minlength=256) / len(b)
                    nz = counts[counts > 0]
                    out["byte_entropy"].append(float(-(nz * np.log2(nz)).sum()))
                    tile = decode_image(b, fake=fake_decode, decoders=_dec)
                    out["mean_luma"].append(float(np.mean(tile)))
                else:
                    out["byte_entropy"].append(0.0)
                    out["mean_luma"].append(math.nan)
                out["payload_sha"].append(hashlib.sha256(b).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(_batch, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """Video frame-sampling plan: one row per frame timestamp to
    extract — pure column math (sequence/explode), no decoding.
    extract_frames is the materialization (real for y4m payloads)."""
    if int(every_ms) <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    vids = media.filter(F.col("kind") == "video")
    ts = F.explode(
        F.sequence(F.lit(0), F.col("duration_ms"), F.lit(int(every_ms)))
    ).alias("frame_ms")
    return vids.select("media_id", "duration_ms", ts)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("src_width", T.IntegerType(), True),
        T.StructField("src_height", T.IntegerType(), True),
        T.StructField("dst_width", T.IntegerType(), False),
        T.StructField("dst_height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("resized_sha", T.StringType(), True),
    ]
)


def resize_images(
    media: DataFrame,
    dst_width: int = 8,
    dst_height: int = 8,
    fake_decode: bool = True,
) -> DataFrame:
    """Arrow-batched image resize over the binary column.

    Same plumbing contract as extract_features: images only (metadata
    filter prunes BEFORE payload bytes are read), payloads arrive per
    Arrow batch, numpy does a nearest-neighbor index-map resample of
    the decoded tile, and the resized raster ships back as a binary
    column plus a content sha. The DECODE step is the stub
    (decode_image); the resample math, batch shape, schema and
    partitioning behavior are real — swap the decode for Pillow and
    nothing else changes.
    """

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("image")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {
                "media_id": pdf["media_id"],
                "src_width": pdf["width"],
                "src_height": pdf["height"],
                "dst_width": [], "dst_height": [], "resized": [], "resized_sha": [],
            }
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                tile = np.asarray(decode_image(b, fake=fake_decode, decoders=_dec), dtype=np.uint8)
                sh, sw = tile.shape
                # nearest-neighbor: integer index maps, pure numpy
                rows = (np.arange(dst_height) * sh) // dst_height
                cols = (np.arange(dst_width) * sw) // dst_width
                resized = tile[np.ix_(rows, cols)]
                raw = resized.tobytes()
                out["dst_width"].append(dst_width)
                out["dst_height"].append(dst_height)
                out["resized"].append(bytearray(raw))
                out["resized_sha"].append(hashlib.sha256(raw).hexdigest())
            yield pd.DataFrame(out)

    imgs = media.filter(F.col("kind") == "image").select(
        "media_id", "width", "height", "payload"
    )
    return imgs.mapInPandas(_batch, RESIZE_SCHEMA)


def _dct_m(n: int):
    """n x n DCT-II basis (same normalization as jpeg._dct_matrix but
    any size): F = A f A^T."""
    import numpy as np

    a = np.zeros((n, n))
    for u in range(n):
        cu = (1.0 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(n):
            a[u, x] = cu * np.sqrt(2.0 / n) * np.cos((2 * x + 1) * u * np.pi / (2 * n))
    return a


def phash64(tile) -> int:
    """Classic 64-bit perceptual hash of a gray tile: NN-resample to
    32x32, 2D DCT, keep the top-left 8x8 low-frequency block, bit i =
    coefficient > median of the 63 non-DC coefficients. Deterministic
    pure numpy — robust to re-encoding (PNG vs JPEG q85 of the same
    image lands within a few bits) while distinct images diverge."""
    import numpy as np

    t = np.asarray(tile, dtype=np.float64)
    sh, sw = t.shape
    rows = (np.arange(32) * sh) // 32
    cols = (np.arange(32) * sw) // 32
    t32 = t[np.ix_(rows, cols)]
    a = _dct_m(32)
    d = (a @ t32 @ a.T)[:8, :8].reshape(64)
    med = np.median(d[1:])  # exclude DC from the threshold
    bits = d > med
    h = 0
    for i in range(64):
        if bits[i]:
            h |= 1 << i
    # two's-complement into a signed 64-bit long (Spark LongType)
    return h - (1 << 64) if h >= 1 << 63 else h


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def image_phash(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """(media_id, phash) over the image rows — Arrow-batched decode +
    pHash, map-only (metadata prunes non-images before payload bytes
    move)."""

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("image")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                tile = decode_image(b, fake=fake_decode, decoders=_dec)
                hashes.append(phash64(tile))
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": hashes})

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(_batch, PHASH_SCHEMA)


def image_neardup_pairs(
    media: DataFrame, max_hamming: int = 6, fake_decode: bool = True
) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual hash + the same
    pigeonhole hamming bucket join the text simhash path uses
    (operators/dedup.hamming_pairs) — multimodal dedup with the
    dedup tier's scale story: one map stage, one bucket join, never
    all-pairs. Catches re-encodes (format/quality changes) of the
    same picture; crops/rotations need richer features and are out of
    scope."""
    from clickhouse_observability_spark.operators.dedup import hamming_pairs

    return hamming_pairs(
        image_phash(media, fake_decode=fake_decode),
        "media_id",
        "phash",
        max_hamming,
        out_a="media_a",
        out_b="media_b",
    )


def make_neardup_image_media(
    spark: SparkSession, n_groups: int = 12, seed: int = 31
) -> DataFrame:
    """Media table with PLANTED near-duplicate images: each group is
    one smooth synthetic picture (gaussian blobs — pHash needs
    natural-image statistics, not modular-arithmetic noise) stored
    three times — lossless PPM, lossless PNG, and lossy JPEG q85.
    media_id = group * 3 + copy, so group membership is recoverable
    in tests. Distinct groups differ by tens of pHash bits; copies
    within a group differ by <= a few."""
    import math
    import random

    from .jpeg import encode_jpeg

    w, h = 64, 48
    rows = []
    for g in range(n_groups):
        rs = random.Random(seed + g)
        blobs = [
            (rs.uniform(0, w), rs.uniform(0, h), rs.uniform(8, 20),
             rs.randrange(60, 200))
            for _ in range(5)
        ]
        rgb = []
        for r in range(h):
            row = []
            for c in range(w):
                v = 40.0
                for bx, by, s, amp in blobs:
                    v += amp * math.exp(
                        -(((c - bx) / s) ** 2 + ((r - by) / s) ** 2)
                    )
                v = int(max(0, min(255, v)))
                row.append((v, int(v * 0.8), int(v * 0.6)))
            rgb.append(row)
        for ci, payload in enumerate(
            (encode_ppm(rgb), encode_png(rgb), encode_jpeg(rgb, quality=85))
        ):
            rows.append((g * 3 + ci, "image", bytearray(payload), w, h, None, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def audio_fingerprint64(samples: list[float], sample_rate: int) -> int:
    """64-bit spectral-peak audio fingerprint: 4 time blocks x 16
    log-spaced FFT bands, with the TOP-2 energy bands of each block
    one-hot set (a clip-level constellation sketch — the
    dominant-peak idea behind published audio-ID systems, reduced to
    one word). Peak-band identity is far more stable under re-encode
    noise than energy-delta signs (the Haitsma-Kalker bitstream
    construction flips near-zero deltas under G.711 companding —
    measured during r4); format/gain changes of the same clip move
    0-2 bits while different non-stationary material differs by 4+.
    Honest limitation, shared by any top-peak sketch: narrowband
    STATIONARY clips whose dominant bands coincide can collide — the
    pytest corpus is non-stationary (chirps + envelopes) like real
    audio. Deterministic pure numpy; clips under 64 samples hash to
    0. Amplitude-invariant via peak normalization."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    if x.size < 64:
        return 0
    peak = np.max(np.abs(x))
    if peak > 0:
        x = x / peak
    n_t, n_b, top_k = 4, 16, 2
    win = max(64, x.size // n_t)
    bits = 0
    for t in range(n_t):
        seg = x[t * (x.size - win) // max(1, n_t - 1) :][:win]
        if seg.size < win:
            seg = np.pad(seg, (0, win - seg.size))
        seg = seg * np.hanning(win)
        mag = np.abs(np.fft.rfft(seg)) ** 2
        # log-spaced band edges over [2, len(mag))
        edges = np.unique(
            np.round(np.geomspace(2, mag.size - 1, n_b + 1)).astype(int)
        )
        while edges.size < n_b + 1:  # tiny windows: pad edges upward
            edges = np.append(edges, edges[-1] + 1)
        energy = np.array(
            [
                float(np.sum(mag[edges[b] : max(edges[b] + 1, edges[b + 1])]))
                for b in range(n_b)
            ]
        )
        for b in np.argsort(energy)[-top_k:]:
            bits |= 1 << (t * n_b + int(b))
    return bits - (1 << 64) if bits >= 1 << 63 else bits


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("audio_fp", T.LongType(), True),
    ]
)


def audio_fingerprints(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """(media_id, audio_fp) over the audio rows — Arrow-batched decode
    + spectral fingerprint, map-only."""

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("audio")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                rate, samples = decode_audio(b, fake=fake_decode, decoders=_dec)
                fps.append(audio_fingerprint64(samples, rate))
            yield pd.DataFrame({"media_id": pdf["media_id"], "audio_fp": fps})

    clips = media.filter(F.col("kind") == "audio").select("media_id", "payload")
    return clips.mapInPandas(_batch, AUDIO_FP_SCHEMA)


def audio_neardup_pairs(
    media: DataFrame, max_hamming: int = 2, fake_decode: bool = True
) -> DataFrame:
    """Near-duplicate AUDIO pairs: spectral-peak fingerprint + the
    shared pigeonhole hamming bucket join
    (operators/dedup.hamming_pairs). Catches sample-format re-encodes
    (PCM16 vs float vs G.711) of the same material, which move <= 2
    of the 8 set peak bits; time-shifted/clipped copies need
    subfingerprint sequences and are out of scope."""
    from clickhouse_observability_spark.operators.dedup import hamming_pairs

    return hamming_pairs(
        audio_fingerprints(media, fake_decode=fake_decode),
        "media_id",
        "audio_fp",
        max_hamming,
        out_a="media_a",
        out_b="media_b",
    )


def make_neardup_audio_media(
    spark: SparkSession, n_groups: int = 12, seed: int = 17
) -> DataFrame:
    """Media table with PLANTED near-duplicate audio: each group is
    one non-stationary clip (chirps + amplitude envelopes — the
    fingerprint's honest operating regime) stored three times: PCM16,
    IEEE float32 at a different gain, and G.711 mu-law. media_id =
    group * 3 + copy."""
    import math
    import random
    import struct

    rate, n = 8000, 4000
    rows = []
    for g in range(n_groups):
        rs = random.Random(seed + g)
        parts = [
            (rs.uniform(100, 1800), rs.uniform(100, 1800),
             rs.uniform(0.2, 1.0), rs.uniform(0, 6))
            for _ in range(3)
        ]
        x = []
        for t in range(n):
            u = t / n
            v = 0.0
            for f0, f1, a, ph in parts:
                f = f0 + (f1 - f0) * u
                env = a * (0.3 + 0.7 * abs(math.sin(math.pi * u * 2 + ph)))
                v += env * math.sin(2 * math.pi * f * t / rate + ph)
            x.append(v / 3)
        pcm = encode_wav(
            [int(max(-1.0, min(1.0, v)) * 12000) for v in x], sample_rate=rate
        )
        fdata = b"".join(struct.pack("<f", v * 0.37) for v in x)
        fmt = struct.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
        f32 = (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(fdata))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(fdata)) + fdata
        )

        def _ulaw_byte(s: int) -> int:
            bias, clip_ = 0x84, 32635
            sign = 0x80 if s < 0 else 0
            s = min(abs(s), clip_) + bias
            exp, mask = 7, 0x4000
            while exp > 0 and not (s & mask):
                exp -= 1
                mask >>= 1
            return ~(sign | (exp << 4) | ((s >> (exp + 3)) & 0x0F)) & 0xFF

        udata = bytes(
            _ulaw_byte(int(max(-1.0, min(1.0, v)) * 12000)) for v in x
        )
        ufmt = struct.pack("<HHIIHH", 7, 1, rate, rate, 1, 8)
        ulaw = (
            b"RIFF"
            + struct.pack("<I", 4 + 8 + len(ufmt) + 8 + len(udata))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(ufmt)) + ufmt
            + b"data" + struct.pack("<I", len(udata)) + udata
        )
        dur = int(n * 1000 / rate)
        for ci, payload in enumerate((pcm, f32, ulaw)):
            rows.append(
                (g * 3 + ci, "audio", bytearray(payload), None, None, rate, dur)
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


FRAME_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("fphash", T.LongType(), True),
    ]
)


def frame_phashes(
    media: DataFrame, every_ms: int = 500, fake_decode: bool = True
) -> DataFrame:
    """(media_id, frame_idx, fphash): perceptual hash of each SAMPLED
    video frame (same timestamp grid as extract_frames, deduped to
    distinct frame indexes) — the per-frame identity video dedup
    matches on. Same Arrow plumbing contract as extract_frames."""
    every_ms = int(every_ms)
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")

    # plan-build-time snapshot: shipped in the closure to the Arrow workers
    _dec = decoder_snapshot("video")
    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "fphash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                # a registered decoder overrides the zero-copy y4m
                # fast path too — the registry's "override wins"
                # contract must hold on every decode route (review r6)
                if _registered(_dec, sniff_video_format, b) is not None:
                    fps_num, fps_den, frames = decode_video(
                        b, fake=fake_decode, decoders=_dec
                    )

                    def fr_at(idx, _f=frames):
                        return np.asarray(_f[idx], dtype=np.uint8)

                    n = len(frames)
                    planes_ok = True
                else:
                    planes_ok = False
                try:
                    if not planes_ok:
                        fps_num, fps_den, w, h, planes = _parse_y4m_planes(b)

                        def fr_at(idx, _w=w, _h=h, _p=planes):
                            return np.frombuffer(
                                _p[idx], dtype=np.uint8
                            ).reshape(_h, _w)

                        n = len(planes)
                except ValueError:
                    # not (valid) y4m: decode_video applies a
                    # registered decoder or gates canonically
                    fps_num, fps_den, frames = decode_video(
                        b, fake=fake_decode, decoders=_dec
                    )

                    def fr_at(idx, _f=frames):
                        return np.asarray(_f[idx], dtype=np.uint8)

                    n = len(frames)
                dur_ms = int(n * 1000 * fps_den / fps_num)
                seen: set[int] = set()
                for ms in range(0, dur_ms + 1, every_ms):
                    idx = min(n - 1, ms * fps_num // (1000 * fps_den))
                    if idx in seen:
                        continue
                    seen.add(idx)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["fphash"].append(phash64(fr_at(idx)))
            yield pd.DataFrame(out)

    vids = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return vids.mapInPandas(_batch, FRAME_PHASH_SCHEMA)


def video_neardup_pairs(
    media: DataFrame,
    every_ms: int = 500,
    min_shared_frac: float = 0.5,
    fake_decode: bool = True,
    max_df: int = 64,
) -> DataFrame:
    """Near-duplicate VIDEO pairs: two clips pair when the fraction of
    shared sampled-frame pHashes (relative to the SMALLER clip's
    sample count) reaches `min_shared_frac` — catching re-encodes,
    fps-metadata changes and head/tail trims of the same material.

    The video arm of the multimodal x dedup bridge, shaped like the
    text inverted-index join: explode per-clip frame-hash sets, join
    clips on exact fphash (identical pixels hash identically; mildly
    re-encoded frames land within a couple of bits — exact match is
    the y4m-lossless anchor), df-cap drops boilerplate frames (black/
    title cards shared by everything) so no hash fans out more than
    max_df ways, count shared per pair, threshold on overlap
    fraction. Never all-pairs."""
    fp = frame_phashes(media, every_ms=every_ms, fake_decode=fake_decode)
    sets = fp.select("media_id", "fphash").distinct()
    n_frames = sets.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    hot = (
        sets.groupBy("fphash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("fphash")
    )
    pruned = sets.join(F.broadcast(hot), "fphash", "left_anti")
    a = pruned.alias("a")
    b = pruned.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fphash") == F.col("b.fphash"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = n_frames.select(
        F.col("media_id").alias("media_a"), F.col("n_frames").alias("na")
    )
    nb = n_frames.select(
        F.col("media_id").alias("media_b"), F.col("n_frames").alias("nb")
    )
    return (
        shared.join(F.broadcast(na), "media_a")
        .join(F.broadcast(nb), "media_b")
        .withColumn(
            "shared_frac", F.round(F.col("n_shared") / F.least("na", "nb"), 4)
        )
        .filter(F.col("shared_frac") >= min_shared_frac)
        .select("media_a", "media_b", "n_shared", "shared_frac")
    )


def make_neardup_video_media(
    spark: SparkSession, n_groups: int = 8, seed: int = 23
) -> DataFrame:
    """Media table with PLANTED near-duplicate videos: each group is
    one deterministic frame sequence stored three ways — the full
    clip, a head-trimmed copy (first two frames dropped), and the
    same frames under a different fps header. media_id = group * 3 +
    copy."""
    rows = []
    w, h, n_fr = 24, 16, 10
    for g in range(n_groups):
        # group-dependent STRIPE FREQUENCIES, not a constant offset —
        # pHash is DC-invariant, so groups must differ structurally
        frames = [
            [
                [
                    (r * (13 + 7 * g) + c * (5 + 3 * g) + f * 53 + seed) % 256
                    for c in range(w)
                ]
                for r in range(h)
            ]
            for f in range(n_fr)
        ]
        variants = (
            encode_y4m(frames, fps_num=10),
            encode_y4m(frames[2:], fps_num=10),
            encode_y4m(frames, fps_num=5),
        )
        for ci, payload in enumerate(variants):
            n = n_fr if ci != 1 else n_fr - 2
            fps = 10 if ci != 2 else 5
            rows.append(
                (g * 3 + ci, "video", bytearray(payload), w, h, None,
                 int(n * 1000 / fps))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# IMA/DVI ADPCM tables (public, from the IMA ADPCM reference algorithm)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode_nibble(nib: int, pred: int, idx: int) -> tuple[int, int]:
    """One IMA ADPCM step: (new predictor, new step index)."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        pred -= diff
    else:
        pred += diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
    return pred, idx


def _ima_encode_sample(s: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One IMA ADPCM compression step: (nibble, new pred, new idx)."""
    step = _IMA_STEPS[idx]
    diff = s - pred
    nib = 0
    if diff < 0:
        nib = 8
        diff = -diff
    if diff >= step:
        nib |= 4
        diff -= step
    if diff >= step >> 1:
        nib |= 2
        diff -= step >> 1
    if diff >= step >> 2:
        nib |= 1
    pred, idx = _ima_decode_nibble(nib, pred, idx)
    return nib, pred, idx


def encode_wav_ima_adpcm(
    samples: list[int], sample_rate: int = 8000, block_frames: int = 505
) -> bytes:
    """Encode mono PCM16 samples as an IMA ADPCM WAV (format 0x11) —
    the deterministic 4-bit codec test anchor; ~4x smaller than
    PCM16."""
    import struct

    block_align = 4 + (block_frames - 1 + 1) // 2  # header + nibbles
    data = bytearray()
    i = 0
    pred, idx = 0, 0
    while i < len(samples):
        blk = samples[i : i + block_frames]
        pred = max(-32768, min(32767, blk[0]))
        data += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for s in blk[1:]:
            nib, pred, idx = _ima_encode_sample(s, pred, idx)
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        for a, b2 in zip(nibbles[0::2], nibbles[1::2]):
            data.append(a | (b2 << 4))  # LOW nibble first
        # pad short (final) blocks to block_align
        pad = block_align - 4 - len(nibbles) // 2
        data += b"\x00" * pad
        i += block_frames
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        sample_rate * block_align // block_frames, block_align, 4,
        2, block_frames,
    )
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, len(samples))
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _parse_wav_ima_adpcm(
    data: bytes, n_ch: int, block_align: int, samples_per_block: int
) -> list[float]:
    import struct

    if n_ch != 1:
        raise ValueError("IMA ADPCM decode supports mono only")
    if block_align < 5:
        raise ValueError("bad IMA ADPCM block alignment")
    out: list[float] = []
    for off in range(0, len(data), block_align):
        blk_len = min(block_align, len(data) - off)
        if blk_len < 5:
            # a final fragment too short for header + any nibbles is
            # truncation, not a legal short block
            raise ValueError("truncated IMA ADPCM block")
        pred, idx, _res = struct.unpack_from("<hBB", data, off)
        if idx > 88:
            raise ValueError("bad IMA ADPCM step index")
        out.append(pred / 32768.0)
        produced = 1
        for bi in range(off + 4, off + blk_len):
            byte = data[bi]
            for nib in (byte & 0x0F, byte >> 4):  # LOW nibble first
                if produced >= samples_per_block:
                    break
                pred, idx = _ima_decode_nibble(nib, pred, idx)
                out.append(pred / 32768.0)
                produced += 1
    return out

"""Multimodal plumbing tests: schema, Arrow batch shape, stub gating."""

from __future__ import annotations

import pytest

from clickhouse_observability_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    return M.make_fake_media(spark, n=30)


def test_media_schema(media):
    assert media.schema == M.MEDIA_SCHEMA
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_decode_stub_is_gated():
    # non-image bytes: still gated for real decode, fake tile otherwise
    with pytest.raises(NotImplementedError):
        M.decode_image(b"abc", fake=False)
    tile = M.decode_image(b"abc", fake=True)
    assert len(tile) == 8 and len(tile[0]) == 8
    assert tile == M.decode_image(b"abc", fake=True)  # deterministic


RGB_3x2 = [
    [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    [(0, 0, 0), (255, 255, 255), (10, 20, 30)],
]
# BT.601 integer luma of each pixel
LUMA_3x2 = [[76, 149, 29], [0, 255, 18]]


def test_decode_ppm_p6_real_pixels():
    assert M.decode_image(M.encode_ppm(RGB_3x2)) == LUMA_3x2


def test_decode_ppm_ascii_with_comments():
    body = " ".join(str(v) for row in RGB_3x2 for px in row for v in px)
    raw = f"P3\n# a comment\n3 2\n# another\n255\n{body}\n".encode()
    assert M.decode_image(raw) == LUMA_3x2


def test_decode_pgm_gray():
    vals = [9, 18, 27, 36, 45, 54]
    p5 = b"P5\n3 2\n255\n" + bytes(vals)
    p2 = ("P2\n3 2\n255\n" + " ".join(map(str, vals))).encode()
    expect = [[9, 18, 27], [36, 45, 54]]
    assert M.decode_image(p5) == expect
    assert M.decode_image(p2) == expect


def test_decode_bmp_matches_ppm():
    # same RGB content through both encoders -> identical gray rows;
    # width 3 exercises the 4-byte row-stride padding
    assert M.decode_image(M.encode_bmp24(RGB_3x2)) == LUMA_3x2


def test_decode_bmp_rejects_compressed():
    import struct

    b = bytearray(M.encode_bmp24(RGB_3x2))
    struct.pack_into("<I", b, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError):
        M.decode_image(bytes(b))


def test_resize_real_ppm_end_to_end(spark):
    # real pixels: decode -> NN resample -> exact expected bytes
    import numpy as np

    media = M.make_real_image_media(spark, n=8)
    out = {r.media_id: r for r in M.resize_images(media, 4, 4, fake_decode=False).collect()}
    assert len(out) == 8
    for src in media.collect():
        tile = np.asarray(M.decode_image(bytes(src.payload)), dtype=np.uint8)
        sh, sw = tile.shape
        assert (sh, sw) == (src.height, src.width)  # decode honors geometry
        rows = (np.arange(4) * sh) // 4
        cols = (np.arange(4) * sw) // 4
        expect = tile[np.ix_(rows, cols)].tobytes()
        assert bytes(out[src.media_id].resized) == expect


def test_feature_extraction_real_luma(spark):
    import numpy as np

    media = M.make_real_image_media(spark, n=6)
    feats = {r.media_id: r for r in M.extract_features(media, fake_decode=False).collect()}
    for src in media.collect():
        tile = M.decode_image(bytes(src.payload))
        assert feats[src.media_id].mean_luma == pytest.approx(float(np.mean(tile)))


def test_feature_extraction(media):
    feats = M.extract_features(media)
    assert feats.schema == M.FEATURE_SCHEMA
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 30
    r0 = rows[0]
    assert r0.n_bytes > 0 and 0.0 < r0.byte_entropy <= 8.0
    assert len(r0.payload_sha) == 64
    # deterministic across runs
    again = {r.media_id: r.payload_sha for r in M.extract_features(media).collect()}
    assert again == {k: v.payload_sha for k, v in rows.items()}


def test_metadata_prunes_before_decode(spark, media, tmp_path_factory):
    # metadata-only projection over the at-rest table must NOT read
    # the payload column (ReadSchema excludes it) — decoding cost is
    # zero for filtered-out media.
    path = str(tmp_path_factory.mktemp("media") / "media.parquet")
    media.write.parquet(path)
    plan = (
        spark.read.parquet(path)
        .filter("kind = 'image'")
        .select("media_id", "width")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema" in plan and "payload" not in plan


def test_frame_sample_plan(media):
    plan = M.frame_sample_plan(media, every_ms=500)
    rows = plan.filter("media_id = 2").collect()  # video, duration 1020
    assert [r.frame_ms for r in rows] == [0, 500, 1000]


def test_resize_images_shapes_and_determinism(spark):
    media = M.make_fake_media(spark, n=30)
    out = M.resize_images(media, dst_width=4, dst_height=6).collect()
    # images only (a third of the fake table), metadata intact
    assert len(out) == len([r for r in media.collect() if r.kind == "image"])
    for r in out:
        assert r.dst_width == 4 and r.dst_height == 6
        assert len(bytes(r.resized)) == 4 * 6  # one byte per gray pixel
    again = {r.media_id: r.resized_sha for r in
             M.resize_images(media, dst_width=4, dst_height=6).collect()}
    assert again == {r.media_id: r.resized_sha for r in out}


def test_resize_upscale_and_identity(spark):
    media = M.make_fake_media(spark, n=9)
    # identity-size resize of the 8x8 fake decode reproduces the tile
    ident = {r.media_id: bytes(r.resized) for r in
             M.resize_images(media, 8, 8).collect()}
    for r in media.collect():
        if r.kind != "image":
            continue
        tile = M.decode_image(bytes(r.payload), fake=True)
        flat = bytes(b for row in tile for b in row)
        assert ident[r.media_id] == flat
    up = M.resize_images(media, 16, 16).collect()
    assert all(len(bytes(r.resized)) == 256 for r in up)


def test_malformed_pnm_falls_back_with_fake(spark):
    # fake=True must survive arbitrary bytes EVEN when they start with
    # a PNM magic: malformed headers fall through to the hash tile
    bad = b"P6 garbage that is not a header"
    with pytest.raises(ValueError):
        M.decode_image(bad)
    tile = M.decode_image(bad, fake=True)
    assert len(tile) == 8 and len(tile[0]) == 8


def test_decode_bmp_truncated_raster_is_valueerror():
    # ADVICE r3: a plausible 'BM' header over cut-off pixel data must
    # surface as ValueError (so decode_image's fake=True fallback
    # catches it), never an IndexError from inside the pixel loops.
    import pytest

    full = M.encode_bmp24(RGB_3x2)
    cut = full[: len(full) - 3]  # drop tail raster bytes
    with pytest.raises(ValueError):
        M.decode_image(cut, fake=False)
    tile = M.decode_image(cut, fake=True)  # contract: still testable
    assert len(tile) == 8 and len(tile[0]) == 8


def test_decode_bmp_short_palette_indices_do_not_crash():
    # 8-bit BMP whose raster indexes past the declared palette: padded
    # deterministically (black), not a per-pixel IndexError.
    import struct

    w = h = 2
    n_colors = 2
    stride = ((8 * w + 31) // 32) * 4
    pal = bytes((10, 10, 10, 0)) + bytes((200, 200, 200, 0))
    raster = bytes((0, 1, 0, 0)) + bytes((1, 250, 0, 0))  # 250 > palette
    data_off = 54 + len(pal)
    header = struct.pack("<2sIHHI", b"BM", data_off + len(raster), 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster),
                      2835, 2835, n_colors, 0)
    rows = M.decode_image(header + dib + pal + raster, fake=False)
    flat = {v for row in rows for v in row}
    assert flat <= {10, 200, 0}  # real palette lumas + black padding


def test_wav_roundtrip_mono_and_stereo():
    # encode -> decode recovers the samples (PCM16 exact up to 1/32768)
    import math

    samples = [int(12000 * math.sin(0.07 * t)) for t in range(300)]
    rate, mono = M.decode_audio(M.encode_wav(samples, 8000))
    assert rate == 8000 and len(mono) == 300
    assert max(abs(mono[t] - samples[t] / 32768.0) for t in range(300)) < 1e-9
    # stereo with identical channels downmixes to the same signal
    inter = [v for s in samples for v in (s, s)]
    rate2, mixed = M.decode_audio(M.encode_wav(inter, 8000, n_channels=2))
    assert rate2 == 8000 and len(mixed) == 300
    assert mixed == mono


def test_wav_truncation_and_gating():
    import pytest

    full = M.encode_wav([100, -100, 200, -200] * 50, 16000)
    with pytest.raises(ValueError):
        M.decode_audio(full[:-7], fake=False)  # cut mid data chunk
    rate, fake = M.decode_audio(full[:-7], fake=True)
    assert rate == 16000 and len(fake) == 256  # deterministic stand-in
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"\xff\xfbmp3-ish-bytes", fake=False)  # compressed


def test_audio_features_real_pcm(spark):
    import math

    import numpy as np

    media = M.make_real_audio_media(spark, n=12)
    rows = {r.media_id: r for r in
            M.extract_audio_features(media, fake_decode=False).collect()}
    assert len(rows) == 12
    src = {r.media_id: r for r in media.collect()}
    for i, r in rows.items():
        # recompute with the local decoder as the reference
        rate, samples = M.decode_audio(bytes(src[i].payload))
        arr = np.asarray(samples)
        assert r.sample_rate == rate == src[i].sample_rate
        assert r.n_samples == len(arr)
        assert r.duration_ms == src[i].duration_ms
        assert math.isclose(r.rms, float(np.sqrt(np.mean(arr * arr))),
                            rel_tol=1e-9)
        assert 0.0 < r.peak <= 1.0
        assert 0.0 < r.zero_cross_rate < 1.0  # a tone crosses zero often


def test_audio_features_prune_non_audio(spark):
    # metadata filter: image/video rows never reach the decoder
    media = M.make_fake_media(spark, n=30)  # kinds cycle image/audio/video
    out = M.extract_audio_features(media, fake_decode=True)
    n_audio = media.filter("kind = 'audio'").count()
    assert out.count() == n_audio


def test_y4m_roundtrip_and_gating():
    import pytest

    frames = [[[(r * 3 + c + f) % 256 for c in range(6)] for r in range(4)]
              for f in range(3)]
    payload = M.encode_y4m(frames, fps_num=10)
    num, den, got = M.decode_video(payload, fake=False)
    assert (num, den) == (10, 1) and got == frames
    with pytest.raises(ValueError):
        M.decode_video(payload[:-5], fake=False)  # truncated last frame
    with pytest.raises(NotImplementedError):
        M.decode_video(b"\x00\x00\x00\x18ftypmp42", fake=False)  # mp4-ish
    n, d, fake = M.decode_video(payload[:-5], fake=True)
    assert len(fake) == 4 and len(fake[0]) == 8  # deterministic stand-in


def test_frame_extract_real_y4m(spark):
    media = M.make_real_video_media(spark, n=10)
    rows = M.extract_frames(media, every_ms=200, fake_decode=False).collect()
    src = {r.media_id: r for r in media.collect()}
    per_clip = {}
    for r in rows:
        per_clip.setdefault(r.media_id, []).append(r)
    assert set(per_clip) == set(src)
    for mid, frs in per_clip.items():
        num, den, frames = M.decode_video(bytes(src[mid].payload))
        dur_ms = int(len(frames) * 1000 * den / num)
        # endpoint-INCLUSIVE timestamps, matching frame_sample_plan's
        # F.sequence(0, duration_ms, step)
        assert len(frs) == dur_ms // 200 + 1
        for r in sorted(frs, key=lambda x: x.frame_ms):
            assert r.width == src[mid].width and r.height == src[mid].height
            assert r.frame_idx == min(len(frames) - 1,
                                      r.frame_ms * num // (1000 * den))
            import hashlib as H

            import numpy as np

            fr = np.asarray(frames[r.frame_idx], dtype=np.uint8)
            assert r.frame_sha == H.sha256(fr.tobytes()).hexdigest()
            assert abs(r.mean_luma - float(fr.mean())) < 1e-9


def test_y4m_adversarial_geometry_and_step_validation(spark):
    import pytest

    # negative even dimensions must be rejected, not loop forever
    evil = b"YUV4MPEG2 W-2 H2 F25:1\nFRAME\n"
    with pytest.raises(ValueError):
        M.decode_video(evil, fake=False)
    # ffmpeg's default chroma tag decodes fine (identical layout)
    frames = [[[1, 2], [3, 4]]]
    tagged = M.encode_y4m(frames).replace(b" C420\n", b" C420mpeg2\n")
    assert M.decode_video(tagged)[2] == frames
    # non-positive sampling step fails fast on the driver
    media = M.make_real_video_media(spark, n=2)
    with pytest.raises(ValueError):
        M.extract_frames(media, every_ms=0)
    with pytest.raises(ValueError):
        M.frame_sample_plan(media, every_ms=0)


def test_frame_extract_matches_plan_timestamps(spark):
    # the materialization must cover EXACTLY the plan's timestamps
    media = M.make_real_video_media(spark, n=8)
    plan = {(r.media_id, r.frame_ms)
            for r in M.frame_sample_plan(media, every_ms=200).collect()}
    got = {(r.media_id, r.frame_ms)
           for r in M.extract_frames(media, every_ms=200,
                                     fake_decode=False).collect()}
    assert got == plan


# ---------------------------------------------------------------- PNG

def _png_chunk(t: bytes, d: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(d)) + t + d
        + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )


def _png_build(ihdr: tuple, raster: bytes, plte: bytes | None = None) -> bytes:
    """Hand-assemble a PNG from IHDR fields + pre-filtered raster —
    independent of encode_png, so decode is tested against the spec's
    byte layout, not our own encoder's idea of it."""
    import struct
    import zlib

    out = M._PNG_SIG + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr))
    if plte:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(raster)) + _png_chunk(b"IEND", b"")


def test_decode_png_matches_ppm():
    assert M.decode_image(M.encode_png(RGB_3x2)) == LUMA_3x2


def test_decode_png_adam7_equals_progressive():
    import random

    rnd = random.Random(11)
    for w, h in [(1, 1), (7, 5), (8, 8), (9, 3), (16, 11), (3, 17)]:
        rgb = [
            [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
            for _ in range(h)
        ]
        ref = M.decode_image(M.encode_ppm(rgb))
        assert M.decode_image(M.encode_png(rgb)) == ref
        assert M.decode_image(M.encode_png(rgb, interlace=1)) == ref


def test_decode_png_all_filter_types():
    # one scanline per filter type (0..4), hand-filtered grayscale
    w, h = 6, 5
    gray = [[(r * 40 + c * 11) % 256 for c in range(w)] for r in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raster = b""
    prev = bytes(w)
    for ri, row in enumerate(gray):
        cur = bytes(row)
        ft = ri % 5
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = bytes((cur[i] - (cur[i - 1] if i else 0)) & 0xFF for i in range(w))
        elif ft == 2:
            enc = bytes((cur[i] - prev[i]) & 0xFF for i in range(w))
        elif ft == 3:
            enc = bytes(
                (cur[i] - (((cur[i - 1] if i else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(w)
            )
        else:
            enc = bytes(
                (cur[i] - paeth(cur[i - 1] if i else 0, prev[i],
                                prev[i - 1] if i else 0)) & 0xFF
                for i in range(w)
            )
        raster += bytes([ft]) + enc
        prev = cur
    assert M.decode_image(_png_build((w, h, 8, 0, 0, 0, 0), raster)) == gray


def test_decode_png_palette_and_subbyte_depths():
    # 4-bit palette: two indexes per byte, MSB first
    pal = b""
    lum = []
    for i in range(16):
        r, g, b = (i * 16) % 256, (255 - i * 16) % 256, (i * 7) % 256
        pal += bytes((r, g, b))
        lum.append(M._luma(r, g, b))
    w, h = 5, 3
    idx = [[(r * 3 + c) % 16 for c in range(w)] for r in range(h)]
    raster = b""
    for row in idx:
        packed = bytearray()
        for i in range(0, w, 2):
            packed.append((row[i] << 4) | (row[i + 1] if i + 1 < w else 0))
        raster += b"\x00" + bytes(packed)
    got = M.decode_image(_png_build((w, h, 4, 3, 0, 0, 0), raster, plte=pal))
    assert got == [[lum[v] for v in row] for row in idx]

    # 1-bit grayscale: 9 wide forces a ragged final byte
    bits = [[1, 0, 1, 0, 1, 1, 0, 0, 1], [0] * 9]
    raster = b""
    for row in bits:
        packed = bytearray()
        for i in range(0, 9, 8):
            byte = 0
            for j, v in enumerate(row[i : i + 8]):
                byte |= v << (7 - j)
            packed.append(byte)
        raster += b"\x00" + bytes(packed)
    got = M.decode_image(_png_build((9, 2, 1, 0, 0, 0, 0), raster))
    assert got == [[v * 255 for v in row] for row in bits]


def test_decode_png_16bit_alpha_variants():
    import struct

    # 16-bit truecolor: high byte wins
    w, h = 4, 2
    rgb16 = [
        [((c * 1000 + r) % 65536, (c * 2000) % 65536, (r * 3000) % 65536)
         for c in range(w)]
        for r in range(h)
    ]
    raster = b"".join(
        b"\x00" + b"".join(struct.pack(">HHH", *px) for px in row) for row in rgb16
    )
    got = M.decode_image(_png_build((w, h, 16, 2, 0, 0, 0), raster))
    assert got == [
        [M._luma(px[0] >> 8, px[1] >> 8, px[2] >> 8) for px in row] for row in rgb16
    ]

    # RGBA and gray+alpha: alpha ignored
    w, h = 3, 2
    rgba = [[(10 * c + r, 20 * c, 30 * c, 128) for c in range(w)] for r in range(h)]
    raster = b"".join(
        b"\x00" + bytes(v for px in row for v in px) for row in rgba
    )
    got = M.decode_image(_png_build((w, h, 8, 6, 0, 0, 0), raster))
    assert got == [[M._luma(*px[:3]) for px in row] for row in rgba]
    ga = [[(40 * c + r, 200) for c in range(w)] for r in range(h)]
    raster = b"".join(b"\x00" + bytes(v for px in row for v in px) for row in ga)
    got = M.decode_image(_png_build((w, h, 8, 4, 0, 0, 0), raster))
    assert got == [[px[0] for px in row] for row in ga]


def test_decode_png_rejects_malformed():
    good = M.encode_png(RGB_3x2)
    # flipped byte inside IHDR data -> CRC catches it
    bad = bytearray(good)
    bad[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        M.decode_image(bytes(bad))
    # truncated file: IEND never arrives
    with pytest.raises(ValueError):
        M.decode_image(good[:-20])
    # short raster inside a VALID zlib stream
    with pytest.raises(ValueError, match="truncated PNG raster"):
        M.decode_image(_png_build((6, 5, 8, 0, 0, 0, 0), b"\x00" + bytes(6)))
    # surplus raster bytes
    with pytest.raises(ValueError, match="length mismatch"):
        M.decode_image(_png_build((2, 1, 8, 0, 0, 0, 0), b"\x00\x01\x02\x99"))
    # corrupt DEFLATE stream
    raw = (
        M._PNG_SIG
        + _png_chunk(b"IHDR", b"\x00\x00\x00\x02\x00\x00\x00\x01\x08\x00\x00\x00\x00")
        + _png_chunk(b"IDAT", b"notzlib")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="zlib"):
        M.decode_image(raw)
    # undefined filter type
    with pytest.raises(ValueError, match="filter type"):
        M.decode_image(_png_build((2, 1, 8, 0, 0, 0, 0), b"\x07\x01\x02"))
    # fake=True still falls back to the deterministic tile on malformed PNG
    tile = M.decode_image(bytes(bad), fake=True)
    assert len(tile) == 8 and tile == M.decode_image(bytes(bad), fake=True)


def _wav_container(fmt: int, n_ch: int, rate: int, bits: int, data: bytes) -> bytes:
    import struct

    block = n_ch * bits // 8
    fmt_chunk = struct.pack("<HHIIHH", fmt, n_ch, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_float_and_g711_formats():
    import struct

    # IEEE float32/float64 (format 3): exact round trip
    samples = [0.0, 0.5, -0.5, 0.25, -1.0, 1.0]
    for bits, kind in ((32, "f"), (64, "d")):
        data = b"".join(struct.pack(f"<{kind}", s) for s in samples)
        rate, n_ch, got = M._parse_wav(_wav_container(3, 1, 8000, bits, data))
        assert (rate, n_ch) == (8000, 1)
        assert got == pytest.approx(samples, abs=1e-6)

    # G.711 expanders: verified bytewise against the public Sun/CCITT
    # compressors (invertibility over all 256 codes); here: anchors +
    # container plumbing
    assert M._ulaw_expand(0xFF) == 0.0  # +0
    assert M._ulaw_expand(0x7F) == 0.0  # -0
    assert M._ulaw_expand(0x80) == pytest.approx(1.0)  # +max (complemented)
    assert M._ulaw_expand(0x00) == pytest.approx(-1.0)  # -max
    assert M._alaw_expand(0xD5) == pytest.approx(8 / 32768.0)  # +min step
    assert M._alaw_expand(0x55) == pytest.approx(-8 / 32768.0)  # -min step
    assert M._alaw_expand(0xAA) == pytest.approx(32256 / 32768.0)  # +max
    assert M._alaw_expand(0x2A) == pytest.approx(-32256 / 32768.0)  # -max
    rate, n_ch, got = M._parse_wav(_wav_container(7, 1, 8000, 8, bytes([0xFF, 0x00])))
    assert got[0] == 0.0 and got[1] == pytest.approx(-1.0)
    rate, n_ch, got = M._parse_wav(_wav_container(6, 2, 8000, 8, bytes([0xD5, 0x55])))
    assert n_ch == 2 and got == [0.0]  # stereo downmix of +8/-8

    # unsupported format tag still ValueError
    with pytest.raises(ValueError, match="unsupported WAV format"):
        M._parse_wav(_wav_container(2, 1, 8000, 8, b"\x00"))
    with pytest.raises(ValueError, match="layout"):
        M._parse_wav(_wav_container(3, 1, 8000, 16, b"\x00\x00"))


# ------------------------------------------------------- pHash dedup

def test_phash_stable_across_encodings():
    import math
    import random

    from clickhouse_observability_spark.operators.jpeg import encode_jpeg

    def smoothimg(seed, w=64, h=48):
        rs = random.Random(seed)
        blobs = [(rs.uniform(0, w), rs.uniform(0, h), rs.uniform(8, 20),
                  rs.randrange(60, 200)) for _ in range(5)]
        img = []
        for r in range(h):
            row = []
            for c in range(w):
                v = 40.0
                for bx, by, s, amp in blobs:
                    v += amp * math.exp(-(((c - bx) / s) ** 2 + ((r - by) / s) ** 2))
                v = int(max(0, min(255, v)))
                row.append((v, int(v * 0.8), int(v * 0.6)))
            img.append(row)
        return img

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    a = smoothimg(1)
    pa = M.phash64(M.decode_image(M.encode_ppm(a)))
    assert ham(pa, M.phash64(M.decode_image(M.encode_png(a)))) == 0
    assert ham(pa, M.phash64(M.decode_image(encode_jpeg(a, quality=85)))) <= 6
    assert ham(pa, M.phash64(M.decode_image(
        encode_jpeg(a, quality=50, subsample=True)))) <= 8
    for s in (2, 3, 4):
        other = M.phash64(M.decode_image(M.encode_ppm(smoothimg(s))))
        assert ham(pa, other) > 16, s


def test_image_neardup_pairs_find_planted_groups(spark):
    media = M.make_neardup_image_media(spark, n_groups=10)
    pairs = M.image_neardup_pairs(media, max_hamming=6, fake_decode=False)
    got = {(r.media_a, r.media_b) for r in pairs.collect()}
    expected = set()
    for g in range(10):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        expected |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert got == expected
    # brute-force hamming agreement (recall AND precision of the
    # pigeonhole bucket join)
    hashes = {r.media_id: r.phash for r in
              M.image_phash(media, fake_decode=False).collect()}
    brute = {
        (a, b)
        for a in hashes for b in hashes if a < b
        and bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1") <= 6
    }
    assert got == brute


def test_audio_neardup_pairs_find_planted_groups(spark):
    media = M.make_neardup_audio_media(spark, n_groups=10)
    pairs = M.audio_neardup_pairs(media, max_hamming=2, fake_decode=False)
    got = {(r.media_a, r.media_b) for r in pairs.collect()}
    expected = set()
    for g in range(10):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        expected |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert expected <= got  # every planted re-encode group found
    # no cross-group pair below the brute-force hamming bar, and the
    # bucket join agrees exactly with brute force
    fps = {r.media_id: r.audio_fp for r in
           M.audio_fingerprints(media, fake_decode=False).collect()}
    brute = {
        (a, b)
        for a in fps for b in fps if a < b
        and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 2
    }
    assert got == brute
    cross = [(a, b) for (a, b) in got if a // 3 != b // 3]
    assert len(cross) <= 2  # collisions are rare on non-stationary material


def test_audio_fingerprint_stability_anchors():
    # format re-encodes of one clip: <= 2 bits; silence/short: 0
    assert M.audio_fingerprint64([0.0] * 10, 8000) == 0
    assert M.audio_fingerprint64([], 8000) == 0
    import math

    x = [math.sin(2 * math.pi * (300 + 400 * t / 4000) * t / 8000)
         for t in range(4000)]  # chirp
    f1 = M.audio_fingerprint64(x, 8000)
    f2 = M.audio_fingerprint64([v * 0.1 for v in x], 8000)  # gain-invariant
    assert f1 == f2
    q = [int(v * 12000) / 12000 for v in x]  # 16-bit-ish quantization
    f3 = M.audio_fingerprint64(q, 8000)
    assert bin((f1 ^ f3) & ((1 << 64) - 1)).count("1") <= 2
    assert bin(f1 & ((1 << 64) - 1)).count("1") == 8  # 2 peaks x 4 blocks


def test_video_neardup_pairs_find_planted_groups(spark):
    media = M.make_neardup_video_media(spark, n_groups=8)
    pairs = M.video_neardup_pairs(
        media, every_ms=100, min_shared_frac=0.5, fake_decode=False
    ).collect()
    got = {(r.media_a, r.media_b) for r in pairs}
    expected = set()
    for g in range(8):
        ids = [g * 3, g * 3 + 1, g * 3 + 2]
        expected |= {(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]}
    assert got == expected  # exactly the planted groups, no cross-group
    by_pair = {(r.media_a, r.media_b): r for r in pairs}
    for g in range(8):
        full, trimmed, refps = g * 3, g * 3 + 1, g * 3 + 2
        # full vs re-fps share every frame; trims share all THEIR frames
        assert by_pair[(full, refps)].shared_frac == 1.0
        assert by_pair[(full, trimmed)].shared_frac == 1.0


def test_frame_phashes_dedupe_and_match_decode(spark):
    media = M.make_neardup_video_media(spark, n_groups=2)
    fp = M.frame_phashes(media, every_ms=100, fake_decode=False).collect()
    # distinct frame indexes only
    seen = {}
    for r in fp:
        assert (r.media_id, r.frame_idx) not in seen
        seen[(r.media_id, r.frame_idx)] = r.fphash
    # phash of the decoded frame matches the pipeline output
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    import numpy as np

    for (mid, idx), hp in list(seen.items())[:6]:
        _, _, frames = M.decode_video(src[mid], fake=False)
        assert hp == M.phash64(np.asarray(frames[idx], dtype=np.uint8))


def test_wav_ima_adpcm_bit_exact():
    """IMA ADPCM (WAV format 0x11): the decoder must reproduce the
    encoder's internal reconstruction BIT-EXACTLY (the codec is a
    deterministic state machine; quantization error lives between
    original and reconstruction, never between encoder and decoder),
    and the fact chunk trims final-block padding."""
    import math

    x = [int(11000 * math.sin(2 * math.pi * (250 + 400 * t / 6000) * t / 8000))
         for t in range(6000)]
    block = 505
    recon = []
    pred, idx = 0, 0
    i = 0
    while i < len(x):
        blk = x[i : i + block]
        pred = max(-32768, min(32767, blk[0]))
        recon.append(pred)
        for s in blk[1:]:
            _nib, pred, idx = M._ima_encode_sample(s, pred, idx)
            recon.append(pred)
        i += block
    enc = M.encode_wav_ima_adpcm(x, 8000)
    assert len(enc) < len(x) * 2 // 3  # actually compresses (~4x)
    rate, got = M.decode_audio(enc)
    assert rate == 8000 and len(got) == len(x)  # fact chunk trims padding
    assert [round(g * 32768) for g in got] == recon
    # tracking quality on a smooth signal: mean error ~1% FS
    errs = [abs(g * 32768 - s) for g, s in zip(got, x)]
    assert sum(errs) / len(errs) < 500
    # stereo ADPCM honestly gated
    import struct as _s

    blk_al = 4 + 252
    fmt = _s.pack("<HHIIHHHH", 0x11, 2, 8000, 8000, blk_al, 4, 2, 505)
    body = (b"WAVE" + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", blk_al) + b"\x00" * blk_al)
    with pytest.raises(ValueError, match="mono"):
        M.decode_audio(b"RIFF" + _s.pack("<I", len(body)) + body)


# Overrides are lambdas/closures on purpose: cloudpickle serializes
# those BY VALUE, so they reach the Arrow workers without the tests
# directory being importable there. A real deployment registers
# importable top-level callables (PIL/ffmpeg wrappers) instead.
def _override_png_decoder(b: bytes):
    return [[200] * 4] * 4


def test_decoder_registry_overrides_stdlib_path(spark):
    """The swap-in hook for real codec libraries: a registered
    decoder overrides the stdlib path for its sniffed format, '*'
    catches formats the sniffers don't recognize, and the override
    travels into the Arrow workers via the plan-build-time snapshot
    (module state alone would NOT reach the separate worker
    processes)."""
    png = M.encode_png([[(9, 9, 9)] * 4] * 4)
    # direct path: explicit snapshot dict
    assert M.decode_image(png, decoders={"png": _override_png_decoder}) \
        == [[200] * 4] * 4
    # unknown format falls to '*'
    assert M.decode_image(b"\x00garbage",
                          decoders={"*": lambda b: [[50] * 4] * 4}) \
        == [[50] * 4] * 4
    # registry + mapInPandas: register BEFORE building the frame
    M.register_decoder("image", "png", lambda b: [[200] * 4] * 4)
    try:
        df = spark.createDataFrame(
            [(1, "image", bytearray(png), 4, 4, None, None)],
            M.MEDIA_SCHEMA,
        )
        feats = M.extract_features(df, fake_decode=False)
        assert feats.collect()[0].mean_luma == 200.0
    finally:
        M.unregister_decoder("image", "png")
    # stdlib path restored after unregister
    feats = M.extract_features(
        spark.createDataFrame(
            [(1, "image", bytearray(png), 4, 4, None, None)],
            M.MEDIA_SCHEMA,
        ),
        fake_decode=False,
    )
    assert feats.collect()[0].mean_luma == 9.0
    with pytest.raises(ValueError):
        M.register_decoder("bogus-kind", "png", _override_png_decoder)
    with pytest.raises(TypeError):
        M.register_decoder("image", "png", "not-callable")


def test_decoder_registry_audio_video(spark):
    wav = M.encode_wav([0, 1000, -1000, 500], sample_rate=8000)
    assert M.decode_audio(
        wav, decoders={"wav": lambda b: (123, [0.0])})[0] == 123
    y4m = M.encode_y4m([[[1] * 4] * 4], fps_num=25, fps_den=1)
    fps_n, fps_d, frames = M.decode_video(
        y4m, decoders={"y4m": lambda b: (1, 1, [[[7]]])})
    assert (fps_n, fps_d) == (1, 1) and frames == [[[7]]]


def test_video_fast_path_honors_registry(spark):
    """extract_frames' zero-copy y4m fast path must yield to a
    registered decoder — the override-wins contract on every route."""
    y4m = M.encode_y4m([[[10] * 4] * 4] * 2, fps_num=2, fps_den=1)
    df = spark.createDataFrame(
        [(1, "video", bytearray(y4m), 4, 4, None, 1000)],
        M.MEDIA_SCHEMA,
    )
    M.register_decoder("video", "y4m",
                       lambda b: (1, 1, [[[99] * 2] * 2]))
    try:
        rows = M.extract_frames(df, every_ms=1000,
                                fake_decode=False).collect()
    finally:
        M.unregister_decoder("video", "y4m")
    assert rows and all(r.mean_luma == 99.0 for r in rows)
    assert all(r.width == 2 and r.height == 2 for r in rows)
    # without the override the stdlib fast path decodes the real y4m
    rows = M.extract_frames(df, every_ms=1000,
                            fake_decode=False).collect()
    assert rows and all(r.mean_luma == 10.0 for r in rows)

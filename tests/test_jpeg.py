"""Baseline JPEG codec tests: encoder->decoder round trips at known
error bounds, configuration coverage (subsampling, restarts,
grayscale), container/entropy error paths, and the decode_image
dispatch. No image library exists in this container, so the encoder
is the test anchor; decode correctness for foreign files rests on the
stream-supplied DQT/DHT path these round trips exercise."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from clickhouse_observability_spark.operators import jpeg as J
from clickhouse_observability_spark.operators import multimodal as M


def _smooth(w: int, h: int) -> list[list[tuple[int, int, int]]]:
    return [
        [((r * 3 + c * 2) % 256, (r * 2 + c * 5) % 256, (r + c * 3) % 256)
         for c in range(w)]
        for r in range(h)
    ]


def _luma(rgb) -> np.ndarray:
    r = np.array(rgb, float)
    return 0.299 * r[..., 0] + 0.587 * r[..., 1] + 0.114 * r[..., 2]


@pytest.mark.parametrize("w,h", [(8, 8), (17, 9), (32, 24), (5, 5), (1, 1)])
def test_jpeg_roundtrip_near_lossless(w, h):
    rgb = _smooth(w, h)
    got = np.array(J.decode_jpeg_luma(J.encode_jpeg(rgb, quality=100)), float)
    assert got.shape == (h, w)
    err = np.abs(got - _luma(rgb))
    assert err.max() <= 2.0 and err.mean() <= 0.6


def test_jpeg_roundtrip_configurations():
    rgb = _smooth(40, 28)
    y = _luma(rgb)
    for kw, tol in [
        (dict(subsample=True, quality=90), 4.0),
        (dict(restart_interval=2, quality=95), 3.0),
        (dict(grayscale=True, quality=100), 2.0),
        (dict(subsample=True, restart_interval=1, quality=85), 6.0),
    ]:
        got = np.array(J.decode_jpeg_luma(J.encode_jpeg(rgb, **kw)), float)
        err = np.abs(got - y)
        assert err.max() <= tol and err.mean() <= tol / 2, kw


def test_jpeg_roundtrip_noise_quality100():
    # pure noise maximizes coefficient magnitudes; q=100 quant is all
    # ones, so this pins the full DC-diff/AC-magnitude coding range
    rnd = random.Random(5)
    rgb = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(24)]
        for _ in range(16)
    ]
    got = np.array(J.decode_jpeg_luma(J.encode_jpeg(rgb, quality=100)), float)
    err = np.abs(got - _luma(rgb))
    assert err.max() <= 2.0


def test_jpeg_lossy_still_correlates():
    rnd = random.Random(9)
    rgb = [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(32)]
        for _ in range(32)
    ]
    y = _luma(rgb)
    got = np.array(J.decode_jpeg_luma(J.encode_jpeg(rgb, quality=50)), float)
    assert np.corrcoef(got.ravel(), y.ravel())[0, 1] > 0.85


def test_jpeg_rejects_malformed():
    enc = J.encode_jpeg(_smooth(16, 16), quality=90)
    with pytest.raises(ValueError):
        J.decode_jpeg_luma(enc[: len(enc) // 2])  # truncated entropy/segments
    with pytest.raises(ValueError):
        J.decode_jpeg_luma(enc[:30])
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg_luma(b"\x00\x11" + enc[2:])
    # flip SOF0 -> SOF2: the sequential scan header (Ss=0, Se=63) is
    # ILLEGAL under a progressive frame — typed rejection, no misdecode
    b = bytearray(enc)
    pos = 2
    while pos + 4 <= len(b):
        if b[pos + 1] == 0xC0:
            b[pos + 1] = 0xC2
            break
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        pos += 2 + ln
    with pytest.raises(ValueError):
        J.decode_jpeg_luma(bytes(b))
    # flip to SOF9 (arithmetic sequential): unsupported mode
    b = bytearray(enc)
    pos = 2
    while pos + 4 <= len(b):
        if b[pos + 1] == 0xC0:
            b[pos + 1] = 0xC9
            break
        (ln,) = struct.unpack_from(">H", b, pos + 2)
        pos += 2 + ln
    with pytest.raises(ValueError, match="unsupported JPEG mode"):
        J.decode_jpeg_luma(bytes(b))


def test_restart_segment_must_be_consumed():
    """r12 advisor: the segment-split reader must refuse a restart
    marker that is not byte-adjacent to the consumed entropy data,
    like the pre-r12 in-line reader did. Injecting raw bytes before
    an RSTn marker leaves >7 unconsumed bits at the segment switch —
    a desynced/corrupt stream that must raise, never silently resync
    onto the marker grid."""
    enc = J.encode_jpeg(_smooth(40, 28), restart_interval=2, quality=95)
    pos, ent = 2, None
    while pos + 4 <= len(enc):  # walk headers to the SOS entropy start
        assert enc[pos] == 0xFF
        (ln,) = struct.unpack_from(">H", enc, pos + 2)
        if enc[pos + 1] == 0xDA:
            ent = pos + 2 + ln
            break
        pos += 2 + ln
    assert ent is not None
    p = ent
    while True:  # first RSTn inside the entropy stream (skip stuffing)
        p = enc.find(b"\xff", p)
        assert 0 <= p < len(enc) - 1
        if 0xD0 <= enc[p + 1] <= 0xD7:
            break
        p += 2
    bad = enc[:p] + b"\x00\x00" + enc[p:]
    with pytest.raises(ValueError, match="byte-adjacent"):
        J.decode_jpeg_luma(bad)
    # the untouched stream still decodes (restart path stays valid)
    assert len(J.decode_jpeg_luma(enc)) == 28


def test_jpeg_huffman_tables_are_canonical():
    # every encoder symbol must decode back through the decoder tables
    for enc_tbl, dec_src in [
        (J._encode_codes(*J.HUFF_DC_LUMA), J.HUFF_DC_LUMA),
        (J._encode_codes(*J.HUFF_AC_LUMA), J.HUFF_AC_LUMA),
        (J._encode_codes(*J.HUFF_DC_CHROMA), J.HUFF_DC_CHROMA),
        (J._encode_codes(*J.HUFF_AC_CHROMA), J.HUFF_AC_CHROMA),
    ]:
        dec_tbl = J._canonical_codes(*dec_src)
        assert len(enc_tbl) == len(dec_src[1])
        for sym, (ln, code) in enc_tbl.items():
            assert dec_tbl[(ln, code)] == sym
        # prefix-free: no code is a prefix of a longer one
        codes = sorted(dec_tbl, key=lambda lc: lc[0])
        for i, (l1, c1) in enumerate(codes):
            for l2, c2 in codes[i + 1 :]:
                if l2 > l1:
                    assert (c2 >> (l2 - l1)) != c1


def test_decode_image_dispatches_jpeg():
    rgb = _smooth(12, 10)
    enc = J.encode_jpeg(rgb, quality=100)
    got = np.array(M.decode_image(enc), float)
    assert got.shape == (10, 12)
    assert np.abs(got - _luma(rgb)).max() <= 2.0
    # malformed JPEG: ValueError (never an untyped crash) without
    # fake, deterministic tile with fake=True
    bad = bytearray(enc)
    bad[40] ^= 0xFF  # corrupt a table segment
    try:
        M.decode_image(bytes(bad))
    except ValueError:
        pass  # rejecting is equally legal — the contract is the TYPE
    tile = M.decode_image(b"\xff\xd8\xff\xe0trunc", fake=True)
    assert len(tile) == 8
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff\xe0trunc", fake=False)


def test_jpeg_through_spark_pipeline(spark):
    # make_real_image_media rotates through all four encoders; the
    # resize/feature mapInPandas paths must handle every format alike
    media = M.make_real_image_media(spark, n=12)
    magics = [bytes(r.payload)[:6] for r in media.collect()]
    assert sum(1 for m in magics if m[:2] == b"\xff\xd8") >= 2  # JPEG
    assert sum(1 for m in magics if m[:2] == b"BM") >= 2  # BMP
    assert sum(1 for m in magics if m[:2] == b"\x89P") >= 2  # PNG
    out = M.resize_images(media, 4, 4, fake_decode=False).collect()
    assert len(out) == 12
    feats = {r.media_id: r for r in
             M.extract_features(media, fake_decode=False).collect()}
    for src in media.collect():
        tile = M.decode_image(bytes(src.payload))
        assert feats[src.media_id].mean_luma == pytest.approx(
            float(np.mean(tile))
        )


# ------------------------------------------------------ progressive

def _noise(rnd, w, h):
    return [
        [tuple(rnd.randrange(256) for _ in range(3)) for _ in range(w)]
        for _ in range(h)
    ]


@pytest.mark.parametrize(
    "kw",
    [
        dict(quality=90),
        dict(quality=100),
        dict(quality=50),
        dict(quality=85, subsample=True),
        dict(quality=95, grayscale=True),
    ],
)
def test_progressive_decodes_identical_to_baseline(kw):
    """The progressive scan script refines coefficients all the way
    back to the baseline quantization — decoded pixels must be
    BIT-IDENTICAL, pinning DC/AC first+refinement scans, EOB runs and
    the two correction-bit pools against each other."""
    rnd = random.Random(5)
    for w, h in [(17, 9), (32, 24), (8, 8), (1, 1)]:
        rgb = _noise(rnd, w, h)
        base = J.decode_jpeg_luma(J.encode_jpeg(rgb, **kw))
        prog = J.decode_jpeg_luma(J.encode_jpeg(rgb, progressive=True, **kw))
        assert base == prog, (w, h, kw)


def test_progressive_stream_is_sof2_multiscan():
    enc = J.encode_jpeg(_smooth(16, 16), quality=90, progressive=True)
    pos, markers = 2, []
    while pos + 4 <= len(enc):
        if enc[pos] != 0xFF:
            pos += 1
            continue
        m = enc[pos + 1]
        if m == 0xD9:
            break
        markers.append(m)
        (ln,) = struct.unpack_from(">H", enc, pos + 2)
        if m == 0xDA:  # skip entropy to next marker
            p = pos + 2 + ln
            while p + 1 < len(enc) and not (
                enc[p] == 0xFF and enc[p + 1] != 0x00
            ):
                p += 1
            pos = p
            continue
        pos += 2 + ln
    assert 0xC2 in markers and 0xC0 not in markers
    assert markers.count(0xDA) == 12  # DC + 4 AC first + DC ref + 6 AC ref


def test_progressive_fuzz_only_typed_errors():
    rnd = random.Random(7)
    enc = J.encode_jpeg(
        _noise(rnd, 24, 16), quality=85, subsample=True, progressive=True
    )
    for t in range(200):
        b = bytearray(enc)
        if t % 2 == 0:
            b = b[: rnd.randrange(len(b))]
        else:
            for _ in range(rnd.randrange(1, 4)):
                b[rnd.randrange(len(b))] ^= rnd.randrange(1, 256)
        try:
            J.decode_jpeg_luma(bytes(b))
        except ValueError:
            pass  # the only legal failure type


def test_decode_image_dispatches_progressive_jpeg():
    rgb = _smooth(12, 10)
    enc = J.encode_jpeg(rgb, quality=100, progressive=True)
    got = np.array(M.decode_image(enc), float)
    assert got.shape == (10, 12)
    assert np.abs(got - _luma(rgb)).max() <= 2.0


def test_per_component_scan_orders():
    """Review r4: T.81 A.2.2 — single-component scans use the
    component's REAL block grid in raster order, not the padded MCU
    grid. Pinned for both multi-scan BASELINE files and progressive
    per-component DC scans, with subsampling so real != padded."""
    rnd = random.Random(2)
    for w, h, sub in [(17, 9, False), (24, 16, True), (33, 17, True)]:
        rgb = _noise(rnd, w, h)
        ref = J.decode_jpeg_luma(J.encode_jpeg(rgb, quality=95, subsample=sub))
        seq = J.decode_jpeg_luma(
            J.encode_jpeg(rgb, quality=95, subsample=sub,
                          per_component_scans=True)
        )
        assert seq == ref, ("baseline multi-scan", w, h, sub)
        prog = J.decode_jpeg_luma(
            J.encode_jpeg(rgb, quality=95, subsample=sub,
                          progressive=True, per_component_scans=True)
        )
        assert prog == ref, ("progressive per-component DC", w, h, sub)


def test_exif_orientation_applied():
    """Scraped JPEGs carry rotation as Exif metadata; ignoring it
    breaks pHash dedup of rotated re-encodes. All 8 orientation
    values must decode to upright pixels; malformed Exif is advisory
    (never fails the decode)."""
    rgb = [[((r * 11 + c * 3) % 256, (c * 7) % 256, (r * 5) % 256)
            for c in range(12)] for r in range(9)]
    enc = J.encode_jpeg(rgb, quality=100)
    base = np.array(J.decode_jpeg_luma(enc))

    def with_exif(orient):
        tiff = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
                + struct.pack("<HHIHH", 0x0112, 3, 1, orient, 0)
                + struct.pack("<I", 0))
        app1 = b"Exif\x00\x00" + tiff
        seg = struct.pack(">BBH", 0xFF, 0xE1, len(app1) + 2) + app1
        return enc[:2] + seg + enc[2:]

    expect = {
        1: base, 2: base[:, ::-1], 3: base[::-1, ::-1], 4: base[::-1, :],
        5: base.T, 6: base.T[:, ::-1], 7: base.T[::-1, ::-1],
        8: base.T[::-1, :],
    }
    for o in range(1, 9):
        got = np.array(J.decode_jpeg_luma(with_exif(o)))
        assert (got == expect[o]).all(), o
    bad = (enc[:2] + struct.pack(">BBH", 0xFF, 0xE1, 8)
           + b"Exif\x00\x00" + enc[2:])
    assert (np.array(J.decode_jpeg_luma(bad)) == base).all()

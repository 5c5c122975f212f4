"""JPEG (ITU-T T.81 / JFIF) codec — pure Python + numpy.

Decoder: baseline sequential DCT (SOF0/SOF1) AND progressive DCT
(SOF2, since r4: spectral selection, successive approximation, EOB
runs, per-scan DHT/DQT redefinition), 8-bit samples, any sampling
factors (4:4:4 / 4:2:2 / 4:2:0 / grayscale), restart intervals,
stuffed bytes, stream-supplied tables. Entropy decoding is a Python
bit-loop over per-component coefficient grids (payloads are
Arrow-batched and small); dequantize + IDCT run vectorized over ALL
blocks at once in numpy. Output is the Y (BT.601 luma) plane at full
resolution — the same gray-rows contract as the PNM/BMP/PNG
parsers — so chroma scans are entropy-decoded (the bitstream is
sequential and refinement bits depend on coefficient state) but
Cb/Cr IDCT work is skipped.

Encoder: the matching writer (Annex K quantization + Huffman tables
with libjpeg-style quality scaling, optional 2x2 chroma subsampling,
optional restart intervals, and a progressive mode whose scan script
reconstructs coefficients BIT-IDENTICALLY to the baseline encoding)
used as the round-trip test anchor and binary-sink helper — this
container has no image library, so tests encode with this and decode
with the parser above.

Arithmetic coding, 12-bit precision, lossless and hierarchical modes
raise ValueError — callers (decode_image) surface that as the
documented fake-tile fallback path.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan: raster index of each of the 64 scan positions
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K.1 base quantization tables (raster order)
QUANT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
QUANT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Annex K.3 typical Huffman tables: (16 code-length counts, symbols)
HUFF_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
HUFF_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


# Progressive scans need EOBn (r<<4 | 0) symbols that the Annex K
# BASELINE tables do not contain (real encoders build per-scan
# optimal tables). A near-flat canonical table — 255 symbols at 9
# bits plus one at 10 (DHT counts are single bytes, so 256-at-one-
# length is inexpressible; no code is all-ones) — is spec-valid and
# exercises the decoder's full symbol range; compression is not the
# point of the test anchor.
HUFF_AC_FLAT = (
    (0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0),
    tuple(range(256)),
)


def _dct_matrix() -> np.ndarray:
    """8x8 DCT-II basis A with A[u,x] = c(u)/2 * cos((2x+1)u*pi/16):
    forward F = A f A^T, inverse f = A^T F A."""
    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = cu / 2 * np.cos((2 * x + 1) * u * np.pi / 16)
    return a


_DCT_A = _dct_matrix()


class _HuffTable(dict):
    """(bit length, code) -> symbol for a canonical JPEG Huffman
    table, plus a FULL 16-bit first-level decode LUT (r12): every
    16-bit window maps to (symbol, length) for the code prefixing it
    — one list index decodes ANY JPEG code (max length 16) with zero
    fallback probes in the hot path. len16[w] == 0 marks an invalid
    prefix. Built numpy-vectorized (slice assigns over the canonical
    code ranges, ~1 ms) and cached module-wide by (counts, symbols)
    via `_canonical_codes`, so a mapInPandas batch decoding many
    images with the same tables (the Annex K case) builds each LUT
    once per worker."""

    __slots__ = ("sym16", "len16", "_sym_np", "_len_np", "_dc_c",
                 "_ac_c")

    def __init__(self, mapping: dict[tuple[int, int], int]):
        super().__init__(mapping)
        sym = np.zeros(1 << 16, np.int16)
        lnn = np.zeros(1 << 16, np.uint8)
        for (ln, code), s in mapping.items():
            base = code << (16 - ln)
            span = 1 << (16 - ln)
            sym[base:base + span] = s
            lnn[base:base + span] = ln
        self._sym_np = sym
        self._len_np = lnn
        self.sym16 = sym.tolist()
        self.len16 = lnn.tolist()
        self._dc_c = None
        self._ac_c = None

    def combined(self, role: str):
        """COMBINED symbol+magnitude LUT (r12): for every 16-bit
        window, the total bit advance (code length + magnitude bits,
        0 = take the slow path) and the EXTENDed signed value — the
        baseline hot loop decodes one coefficient with ONE list index
        instead of code-lookup + receive + extend. Valid whenever the
        code and its appended bits fit the window (ln + s <= 16, the
        overwhelming case); built vectorized, lazily, per role (DC
        reads s = sym, AC s = sym & 15) and cached on the table
        (tables themselves cache module-wide)."""
        cached = self._dc_c if role == "dc" else self._ac_c
        if cached is not None:
            return cached
        w = np.arange(1 << 16, dtype=np.int64)
        ln = self._len_np.astype(np.int64)
        sym = self._sym_np.astype(np.int64)
        s = sym if role == "dc" else (sym & 15)
        adv = ln + s
        valid = (ln > 0) & (adv <= 16)
        if role == "dc":
            valid &= sym <= 11  # DC category bound (checked here so
            # the LUT never serves an out-of-range category; invalid
            # windows fall to the slow path, which raises)
        adv = np.where(valid, adv, 0)
        raw = (w >> np.maximum(16 - ln - s, 0)) & (
            (np.int64(1) << s) - 1)
        half = np.int64(1) << np.maximum(s - 1, 0)
        ext = np.where(
            s == 0, 0,
            np.where(raw >= half, raw, raw - (np.int64(1) << s) + 1))
        out = (adv.tolist(), ext.tolist())
        if role == "dc":
            self._dc_c = out
        else:
            self._ac_c = out
        return out


_CANON_CACHE: dict[tuple, "_HuffTable"] = {}


def _canonical_codes(counts: tuple, symbols: tuple) -> "_HuffTable":
    """(bit length, code) -> symbol for a canonical JPEG Huffman
    table. Cached by the (counts, symbols) definition — tables are
    immutable and recur across images (Annex K, per-scan DHT
    redefinitions of the same table)."""
    key = (tuple(counts), tuple(symbols))
    cached = _CANON_CACHE.get(key)
    if cached is not None:
        return cached
    table: dict[tuple[int, int], int] = {}
    code = 0
    it = iter(symbols)
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            try:
                table[(ln, code)] = next(it)
            except StopIteration:
                raise ValueError("DHT symbol count mismatch") from None
            code += 1
        code <<= 1
    out = _HuffTable(table)
    _CANON_CACHE[key] = out
    return out


def _encode_codes(counts: tuple, symbols: tuple) -> dict[int, tuple[int, int]]:
    """symbol -> (bit length, code), the encoder-side view."""
    return {sym: (ln, code) for (ln, code), sym in
            _canonical_codes(counts, symbols).items()}


class _BitReader:
    """Entropy-segment bit reader over PRE-DESTUFFED restart
    segments (r12 rework of the r8 per-byte reader).

    Construction makes ONE pass over the raw stream: it finds the
    scan-terminating marker, splits on RSTn markers, and destuffs
    each segment with C-level ``bytes.replace(b'\\xff\\x00',
    b'\\xff')`` — so the per-symbol hot path never re-checks byte
    stuffing or marker collisions (the r8 reader paid a _fill call
    with three branches per BYTE; profiled >90% of decode wall was
    this per-symbol call overhead). ``pos`` is the raw offset of the
    terminating marker, ready for `_resync`. Bit state (``buf, bp,
    end, bits, nbits``) is plain attributes so the baseline scan
    decoder can inline it into local variables and write it back
    around restarts/fallbacks."""

    __slots__ = ("segs", "marks", "iseg", "buf", "bp", "end",
                 "bits", "nbits", "pos")

    def __init__(self, data: bytes, pos: int):
        segs = []
        marks = []
        n = len(data)
        p = seg_start = pos
        end_pos = n  # no terminating marker: reads raise at the tail
        find = data.find
        while True:
            p = find(b"\xff", p)  # jump between FF bytes (C-level)
            if p < 0 or p + 1 >= n:
                break
            nxt = data[p + 1]
            if nxt == 0x00:  # stuffed data byte
                p += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # restart marker
                segs.append(data[seg_start:p])
                marks.append(nxt - 0xD0)
                p += 2
                seg_start = p
                continue
            end_pos = p  # real marker terminates the scan
            break
        segs.append(data[seg_start:end_pos])
        self.segs = [s.replace(b"\xff\x00", b"\xff") for s in segs]
        self.marks = marks
        self.iseg = 0
        self.buf = self.segs[0]
        self.bp = 0
        self.end = len(self.buf)
        self.bits = 0
        self.nbits = 0
        self.pos = end_pos

    def _fill(self) -> None:
        bp = self.bp
        avail = self.end - bp
        if avail <= 0:
            raise ValueError("truncated JPEG entropy data")
        k = 4 if avail >= 4 else avail
        # truncate to the live bits BEFORE shifting so the
        # accumulator stays bounded (the r8 lesson: an unmasked
        # accumulator grows per byte and every extract pays
        # O(scan bytes) bigint arithmetic)
        self.bits = (
            (self.bits & ((1 << self.nbits) - 1)) << (8 * k)
        ) | int.from_bytes(self.buf[bp:bp + k], "big")
        self.bp = bp + k
        self.nbits += 8 * k

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bits >> self.nbits) & 1

    def receive(self, n: int) -> int:
        # batched extract; raises exactly when the stream can't
        # supply the bits (segment exhausted)
        if n <= 0:
            return 0
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.bits >> self.nbits) & ((1 << n) - 1)

    def decode_huff(self, table: "_HuffTable") -> int:
        # one 16-bit window lookup decodes ANY code (max length 16);
        # a stream tail shorter than 16 bits falls back to the
        # per-bit probe, which consumes only the bits the actual
        # code needs
        if self.nbits < 16:
            try:
                while self.nbits < 16:
                    self._fill()
            except ValueError:
                return self._decode_huff_per_bit(table, 0, 1)
        window = (self.bits >> (self.nbits - 16)) & 0xFFFF
        ln = table.len16[window]
        if ln == 0:
            raise ValueError("bad JPEG Huffman code")
        self.nbits -= ln
        return table.sym16[window]

    def _decode_huff_per_bit(
        self, table: "_HuffTable", code: int, start_len: int
    ) -> int:
        for ln in range(start_len, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad JPEG Huffman code")

    def restart(self, n_expected: int) -> None:
        """Byte-align onto the next restart segment (the RSTn marker
        was consumed and checked structurally at construction; the
        sequence number is verified here). The previous segment must
        be fully consumed up to byte-alignment padding — more than 7
        leftover bits means the entropy decode desynced from the
        marker grid (a corrupt stream the pre-r12 in-line reader
        rejected as a missing restart marker; the segment-split
        reader must refuse it too, not resync silently)."""
        if self.iseg >= len(self.marks):
            raise ValueError("missing JPEG restart marker")
        if (self.end - self.bp) * 8 + self.nbits > 7:
            raise ValueError("JPEG restart marker not byte-adjacent "
                             "to consumed entropy data")
        if self.marks[self.iseg] != n_expected % 8:
            raise ValueError("bad JPEG restart marker sequence")
        self.iseg += 1
        self.buf = self.segs[self.iseg]
        self.bp = 0
        self.end = len(self.buf)
        self.bits = 0
        self.nbits = 0


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _sliding_words(seg: bytes) -> list[int]:
    """The 32-bit big-endian word starting at every byte offset of
    `seg` (3 zero bytes padded), as a Python list — the baseline hot
    loop reads its 16-bit decode window with two shifts and a mask.
    numpy-built: ~1 ms per 100 KB segment."""
    a = np.frombuffer(seg + b"\x00\x00\x00", np.uint8).astype(np.int64)
    if len(a) < 4:
        a = np.concatenate([a, np.zeros(4 - len(a), np.int64)])
    w = (a[:-3] << 24) | (a[1:-2] << 16) | (a[2:-1] << 8) | a[3:]
    return w.tolist()


def _sync_reader(reader: "_BitReader", p: int) -> None:
    """Point the reader's bit state at absolute bit position `p` of
    the current segment (hot-loop -> reader handoff)."""
    byte = p >> 3
    off = p & 7
    if off:
        reader.bp = byte + 1
        reader.nbits = 8 - off
        reader.bits = reader.buf[byte] & ((1 << (8 - off)) - 1)
    else:
        reader.bp = byte
        reader.nbits = 0
        reader.bits = 0


def _reader_bitpos(reader: "_BitReader") -> int:
    return reader.bp * 8 - reader.nbits


def _sof_parse(seg: bytes) -> tuple[int, int, list[dict]]:
    if len(seg) < 6:
        raise ValueError("truncated JPEG SOF")
    prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
    if len(seg) < 6 + 3 * nc:
        raise ValueError("truncated JPEG SOF")
    if prec != 8:
        raise ValueError(f"unsupported JPEG precision {prec}")
    if w == 0 or h == 0 or nc not in (1, 3):
        raise ValueError("bad JPEG frame header")
    comps = []
    for i in range(nc):
        cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * i)
        comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
    return w, h, comps


def _resync(b: bytes, pos: int) -> int:
    """After a scan's entropy data: step to the next marker (skipping
    stuffed 0xFF00 pairs that belong to entropy padding)."""
    while pos + 1 < len(b):
        if b[pos] == 0xFF and b[pos + 1] != 0x00:
            return pos
        pos += 1
    raise ValueError("truncated JPEG: no marker after scan")


_ZIG = list(ZIGZAG)


def _decode_baseline_scan(
    reader, frame, scan_comps, scan, huff, coef,
    mcus_x, mcus_y, restart_interval, want_ids=None,
):
    """Sequential DCT scan: DC + all 63 AC per data unit. T.81 allows
    a scan to cover any component subset: multi-component scans
    interleave over the padded MCU grid; a single-component scan runs
    raster over that component's REAL block grid (A.2.2).

    r12 hot-path shape: the unit order is PLANNED up front as
    restart-interval groups of (component index, block view), then
    ONE flat loop decodes with the bit state in local variables —
    zero method calls per symbol (16-bit LUT index + int ops; the r8
    per-symbol decode_huff/receive/_extend call stack profiled as
    >90% of decode wall). Coefficients land per block as one fancy
    assign (`blk[idxs] = vals`) instead of per-scalar numpy writes.
    Reader state writes back around restarts and stream-tail
    fallbacks, so semantics (restart sequence checks, truncation
    errors) are byte-identical to the method path the progressive
    decoder still uses.

    ``want_ids``: component ids whose COEFFICIENTS the caller needs
    (None = all). A sequential bitstream forces every component's
    symbols to be WALKED, but components outside want_ids (chroma
    under the Y-plane output contract) take a value-free path — no
    coefficient materialization, no DC predictor, just the combined
    LUT's bit advance — which skips ~2/3 of the hot-loop work on a
    4:4:4 stream. Progressive scans cannot do this: refinement bits
    are read conditionally on prior coefficient STATE, so chroma
    state must be maintained there (decode_jpeg_luma's docstring
    contract)."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)

    # per-component decode tables: combined code+magnitude LUTs
    # (advance, value) per role, plus the AC symbol LUT (run/EOB/ZRL
    # classification) and the raw tables for the slow fallback
    tabs = []
    for c in scan_comps:
        dc = huff[(0, scan[c["id"]][0])]
        ac = huff[(1, scan[c["id"]][1])]
        dc_adv, dc_val = dc.combined("dc")
        ac_adv, ac_val = ac.combined("ac")
        tabs.append((dc_adv, dc_val, dc, ac_adv, ac_val, ac.sym16, ac))

    # group = restart unit (one data unit for a non-interleaved scan,
    # one MCU for an interleaved one); units carry the block's FLAT
    # row index in its component grid — coefficients accumulate in
    # per-component (row, zig, val) lists and land as ONE vectorized
    # scatter per component at scan end (per-block numpy assigns cost
    # ~µs of dispatch each; one 100k-element scatter costs ~ms)
    wanted_ci = [want_ids is None or c["id"] in want_ids
                 for c in scan_comps]
    groups: list[list] = []
    if len(scan_comps) == 1:
        c = scan_comps[0]
        grid = coef[c["id"]]
        bw, bh = _scan_blocks(c, w, h, hmax, vmax)
        gw = grid.shape[1]
        for u in range(bw * bh):
            uy, ux = divmod(u, bw)
            groups.append([(0, uy * gw + ux, wanted_ci[0])])
    else:
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            g = []
            for ci, c in enumerate(scan_comps):
                gw = coef[c["id"]].shape[1]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        g.append((ci, (my * c["v"] + by) * gw
                                  + mx * c["h"] + bx, wanted_ci[ci]))
            groups.append(g)

    out_rows = [[] for _ in scan_comps]
    out_zigs = [[] for _ in scan_comps]
    out_vals = [[] for _ in scan_comps]
    pred = [0] * len(scan_comps)
    zig = _ZIG
    # branch-light bit cursor: W32 holds the 32-bit big-endian word
    # at every BYTE offset of the destuffed segment (numpy-built,
    # once), so the 16-bit window at bit position p is two shifts and
    # a mask away — no refill loop, no accumulator, no live-bit
    # bookkeeping in the hot path. pmax guards the stream tail (the
    # last <16 bits decode through the reader's per-bit path, which
    # raises truncation exactly where a bit-serial reader would).
    w32 = _sliding_words(reader.buf)
    p = _reader_bitpos(reader)
    pmax = 8 * reader.end - 16
    for gi, group in enumerate(groups):
        if restart_interval and gi and gi % restart_interval == 0:
            _sync_reader(reader, p)
            reader.restart(gi // restart_interval - 1)
            w32 = _sliding_words(reader.buf)
            p = 0
            pmax = 8 * reader.end - 16
            pred = [0] * len(scan_comps)
        for ci, bidx, wanted in group:
            dc_adv, dc_val, dc_tab, ac_adv, ac_val, ac_sym, ac_tab = (
                tabs[ci])
            if not wanted:
                # ---- value-free walk (see docstring): advance only
                adv = 0
                if p <= pmax:
                    win = (w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                    adv = dc_adv[win]
                if adv:
                    p += adv
                else:
                    _sync_reader(reader, p)
                    s = reader.decode_huff(dc_tab)
                    if s > 11:
                        raise ValueError("bad JPEG DC category")
                    if s:
                        reader.receive(s)
                    p = _reader_bitpos(reader)
                k = 1
                while k < 64:
                    adv = 0
                    if p <= pmax:
                        win = (w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                        adv = ac_adv[win]
                    if adv:
                        p += adv
                        sym = ac_sym[win]
                        if sym & 15 == 0:
                            if sym == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += (sym >> 4) + 1
                        if k > 64:
                            raise ValueError(
                                "JPEG AC run overflows block")
                    else:
                        _sync_reader(reader, p)
                        rs = reader.decode_huff(ac_tab)
                        sv = rs & 15
                        if sv == 0:
                            p = _reader_bitpos(reader)
                            if rs == 0xF0:
                                k += 16
                                continue
                            break
                        reader.receive(sv)
                        p = _reader_bitpos(reader)
                        k += (rs >> 4) + 1
                        if k > 64:
                            raise ValueError(
                                "JPEG AC run overflows block")
                continue
            # ---- DC: one combined lookup = code + magnitude + extend
            adv = 0
            if p <= pmax:
                win = (w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                adv = dc_adv[win]
            if adv:
                p += adv
                pred[ci] += dc_val[win]
            else:  # stream tail / code+bits beyond 16: per-step path
                _sync_reader(reader, p)
                s = reader.decode_huff(dc_tab)
                if s > 11:
                    raise ValueError("bad JPEG DC category")
                if s:
                    pred[ci] += _extend(reader.receive(s), s)
                p = _reader_bitpos(reader)
            rows = out_rows[ci]
            zigs = out_zigs[ci]
            vals = out_vals[ci]
            rows.append(bidx)
            zigs.append(0)
            vals.append(pred[ci])
            # ---- AC run-length loop: one combined lookup per coeff
            k = 1
            while k < 64:
                if p <= pmax:
                    win = (w32[p >> 3] >> (16 - (p & 7))) & 0xFFFF
                    adv = ac_adv[win]
                else:
                    adv = 0
                if adv:
                    p += adv
                    sym = ac_sym[win]
                    s = sym & 15
                    if s == 0:
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += sym >> 4
                    if k > 63:
                        raise ValueError("JPEG AC run overflows block")
                    rows.append(bidx)
                    zigs.append(zig[k])
                    vals.append(ac_val[win])
                    k += 1
                else:
                    _sync_reader(reader, p)
                    rs = reader.decode_huff(ac_tab)
                    s = rs & 15
                    if s == 0:
                        p = _reader_bitpos(reader)
                        if rs == 0xF0:
                            k += 16
                            continue
                        break
                    v = _extend(reader.receive(s), s)
                    p = _reader_bitpos(reader)
                    k += rs >> 4
                    if k > 63:
                        raise ValueError("JPEG AC run overflows block")
                    rows.append(bidx)
                    zigs.append(zig[k])
                    vals.append(v)
                    k += 1
    _sync_reader(reader, p)
    # one scatter per component: every (block row, zig position,
    # value) this scan produced
    for ci, c in enumerate(scan_comps):
        if out_rows[ci]:
            coef[c["id"]].reshape(-1, 64)[out_rows[ci], out_zigs[ci]] = (
                out_vals[ci])


def _scan_blocks(c, w, h, hmax, vmax):
    """Non-interleaved scan order: the component's REAL block grid
    (ceil of its own pixel dims), row-major — T.81 A.2.2."""
    cw = -(-w * c["h"] // hmax)
    ch = -(-h * c["v"] // vmax)
    return -(-cw // 8), -(-ch // 8)


def _decode_progressive_scan(
    reader, frame, scan_comps, scan, huff, coef, state,
    ss, se, ah, al, mcus_x, mcus_y, restart_interval,
):
    """One progressive scan (T.81 G.2): DC first/refine — interleaved
    over the padded MCU grid when the scan covers several components,
    raster over the component's REAL block grid when ns == 1 (A.2.2:
    non-interleaved data-unit order, NOT MCU order) — or AC
    first/refine (single component, real block grid), with EOB-run
    bookkeeping and restart support."""
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    state["eobrun"] = 0
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")
        pred = {c["id"]: 0 for c in scan_comps}

        def dc_unit(c, blk):
            if ah == 0:
                dc_tab = huff.get((0, scan[c["id"]][0]))
                if dc_tab is None:
                    raise ValueError("missing DC table")
                s = reader.decode_huff(dc_tab)
                if s > 11:
                    raise ValueError("bad JPEG DC category")
                pred[c["id"]] += _extend(reader.receive(s), s)
                blk[0] = pred[c["id"]] << al
            elif reader.read_bit():
                blk[0] = int(blk[0]) | (1 << al)

        if len(scan_comps) == 1:
            c = scan_comps[0]
            grid = coef[c["id"]]
            bw, bh = _scan_blocks(c, w, h, hmax, vmax)
            for unit in range(bw * bh):
                if restart_interval and unit and unit % restart_interval == 0:
                    reader.restart(unit // restart_interval - 1)
                    pred = {c["id"]: 0}
                uy, ux = divmod(unit, bw)
                dc_unit(c, grid[uy, ux])
            return
        for mcu in range(mcus_x * mcus_y):
            if restart_interval and mcu and mcu % restart_interval == 0:
                reader.restart(mcu // restart_interval - 1)
                pred = {c["id"]: 0 for c in scan_comps}
            my, mx = divmod(mcu, mcus_x)
            for c in scan_comps:
                grid = coef[c["id"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        dc_unit(c, grid[my * c["v"] + by, mx * c["h"] + bx])
        return
    # AC scans: exactly one component (T.81 G.1.1.1.1)
    if len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    c = scan_comps[0]
    ac_tab = huff.get((1, scan[c["id"]][1]))
    if ac_tab is None:
        raise ValueError("missing AC table")
    grid = coef[c["id"]]
    bw, bh = _scan_blocks(c, w, h, hmax, vmax)
    p1, m1 = 1 << al, -1 << al
    for unit in range(bw * bh):
        if restart_interval and unit and unit % restart_interval == 0:
            reader.restart(unit // restart_interval - 1)
            state["eobrun"] = 0
        uy, ux = divmod(unit, bw)
        blk = grid[uy, ux]
        if ah == 0:  # AC first (G.1.2.2)
            if state["eobrun"] > 0:
                state["eobrun"] -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.decode_huff(ac_tab)
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        state["eobrun"] = (1 << r) - 1
                        if r:
                            state["eobrun"] += reader.receive(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("JPEG AC run overflows band")
                blk[_ZIG[k]] = _extend(reader.receive(s), s) << al
                k += 1
        else:  # AC refinement (G.1.2.3)
            k = ss
            if state["eobrun"] == 0:
                while k <= se:
                    rs = reader.decode_huff(ac_tab)
                    r, s = rs >> 4, rs & 0xF
                    newval = 0
                    if s == 0:
                        if r < 15:
                            state["eobrun"] = 1 << r
                            if r:
                                state["eobrun"] += reader.receive(r)
                            break  # rest handled by the EOB sweep below
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise ValueError(
                                "refinement scan with magnitude > 1"
                            )
                        newval = p1 if reader.read_bit() else m1
                    while k <= se:
                        z = _ZIG[k]
                        cur = int(blk[z])
                        if cur != 0:
                            if reader.read_bit() and (cur & p1) == 0:
                                blk[z] = cur + (p1 if cur >= 0 else m1)
                        else:
                            if r == 0:
                                if newval:
                                    blk[z] = newval
                                k += 1
                                break
                            r -= 1
                        k += 1
            if state["eobrun"] > 0:
                while k <= se:
                    z = _ZIG[k]
                    cur = int(blk[z])
                    if cur != 0 and reader.read_bit() and (cur & p1) == 0:
                        blk[z] = cur + (p1 if cur >= 0 else m1)
                    k += 1
                state["eobrun"] -= 1


def _exif_orientation(seg: bytes) -> int:
    """Extract the Exif Orientation tag (0x0112) from an APP1 payload
    — a tiny TIFF IFD walk (Exif only needs IFD0's SHORT tags). Returns 1 (normal) when absent or
    malformed: orientation is advisory metadata, never a reason to
    fail the decode."""
    if seg[:6] != b"Exif\x00\x00":
        return 1
    t = seg[6:]
    try:
        if t[:4] == b"II*\x00":
            e = "<"
        elif t[:4] == b"MM\x00*":
            e = ">"
        else:
            return 1
        (ifd_off,) = struct.unpack_from(f"{e}I", t, 4)
        (n_tags,) = struct.unpack_from(f"{e}H", t, ifd_off)
        for i in range(n_tags):
            tag, typ, _cnt = struct.unpack_from(
                f"{e}HHI", t, ifd_off + 2 + 12 * i
            )
            if tag == 0x0112 and typ == 3:
                (v,) = struct.unpack_from(f"{e}H", t, ifd_off + 2 + 12 * i + 8)
                return v if 1 <= v <= 8 else 1
        return 1
    except struct.error:
        return 1


def _apply_orientation(plane: np.ndarray, orientation: int) -> np.ndarray:
    """Undo the Exif orientation so output pixels are upright (the
    standard camera-metadata transforms, values 2-8)."""
    if orientation == 2:
        return plane[:, ::-1]
    if orientation == 3:
        return plane[::-1, ::-1]
    if orientation == 4:
        return plane[::-1, :]
    if orientation == 5:
        return plane.T
    if orientation == 6:  # stored rotated 90 CCW -> rotate CW back
        return plane.T[:, ::-1]
    if orientation == 7:
        return plane.T[::-1, ::-1]
    if orientation == 8:
        return plane.T[::-1, :]
    return plane


def decode_jpeg_luma(b: bytes) -> list[list[int]]:
    """Decode a baseline OR progressive JPEG to gray pixel rows (the
    Y plane at full resolution).

    Stream-driven: quantization and Huffman tables come from the
    file's own DQT/DHT segments (redefinable between scans), so
    decode correctness is independent of the Annex K constants above
    (those are encoder-side). Progressive streams (SOF2) accumulate
    per-component coefficient grids across spectral-selection and
    successive-approximation scans — chroma scans are fully entropy-
    decoded (the bitstream is sequential and refinement bits depend
    on coefficient state) but only the Y grid pays for IDCT."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("bad JPEG SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    frame = None  # (w, h, comps)
    progressive = False
    restart_interval = 0
    orientation = 1
    coef: dict[int, np.ndarray] = {}  # comp id -> (bh, bw, 64) grid
    mcus_x = mcus_y = 0
    state: dict[str, int] = {}
    saw_scan = False
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4 : pos + 2 + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                sp += 1
                n = 64 * (2 if pq else 1)
                if sp + n > len(seg):
                    raise ValueError("truncated JPEG DQT")
                vals = (
                    np.frombuffer(seg, ">u2", 64, sp).astype(np.int32)
                    if pq
                    else np.frombuffer(seg, np.uint8, 64, sp).astype(np.int32)
                )
                tbl = np.zeros(64, np.int32)
                tbl[_ZIG] = vals
                qt[tq] = tbl
                sp += n
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp + 17 <= len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                counts = tuple(seg[sp + 1 : sp + 17])
                n = sum(counts)
                symbols = tuple(seg[sp + 17 : sp + 17 + n])
                if len(symbols) != n:
                    raise ValueError("truncated JPEG DHT")
                huff[(tc, th)] = _canonical_codes(counts, symbols)
                sp += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            if frame is not None:
                raise ValueError("multiple JPEG frames")
            frame = _sof_parse(seg)
            progressive = marker == 0xC2
            w, h, comps = frame
            for c in comps:
                if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
                    raise ValueError("bad JPEG sampling factors")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            if mcus_x * mcus_y > 1 << 22:
                raise ValueError("JPEG geometry too large")
            for c in comps:
                coef[c["id"]] = np.zeros(
                    (mcus_y * c["v"], mcus_x * c["h"], 64), np.int32
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG mode (lossless/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("truncated JPEG DRI")
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not seg or len(seg) < 1 + 2 * seg[0] + 3:
                raise ValueError("truncated JPEG SOS")
            ns = seg[0]
            w, h, comps = frame
            by_id = {c["id"]: c for c in comps}
            scan = {}
            scan_comps = []
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in by_id:
                    raise ValueError("JPEG scan names unknown component")
                scan[cs] = (tables >> 4, tables & 0xF)
                scan_comps.append(by_id[cs])
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            a = seg[3 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            for c in comps:
                if c["tq"] not in qt:
                    raise ValueError("JPEG component references missing DQT")
            reader = _BitReader(b, pos + 2 + seg_len)
            if not progressive:
                # T.81 allows sequential scans over any component
                # SUBSET (per-component multi-scan baseline files)
                if ss != 0 or se != 63 or ah != 0 or al != 0:
                    raise ValueError("bad sequential JPEG scan header")
                for c in scan_comps:
                    if (0, scan[c["id"]][0]) not in huff or (
                        1, scan[c["id"]][1]
                    ) not in huff:
                        raise ValueError("JPEG scan references missing DHT")
                _decode_baseline_scan(
                    reader, frame, scan_comps, scan, huff, coef,
                    mcus_x, mcus_y, restart_interval,
                    # Y-plane output contract: chroma only WALKS
                    want_ids={comps[0]["id"]},
                )
                saw_scan = True
                pos = _resync(b, reader.pos)
                continue
            if se > 63 or ss > se or ah > 13 or al > 13:
                raise ValueError("bad progressive JPEG scan header")
            _decode_progressive_scan(
                reader, frame, scan_comps, scan, huff, coef, state,
                ss, se, ah, al, mcus_x, mcus_y, restart_interval,
            )
            saw_scan = True
            pos = _resync(b, reader.pos)
            continue
        elif marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            # APP1 carrying Exif (advisory); real files often follow
            # it with an XMP APP1 — only the Exif one may set (or
            # keep) the orientation
            orientation = _exif_orientation(seg)
        # other APPn / COM: skip
        pos += 2 + seg_len
    if frame is None or not saw_scan:
        raise ValueError("missing JPEG SOF/SOS")
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    y_comp = comps[0]
    grid = coef[y_comp["id"]]
    bh, bw = grid.shape[0], grid.shape[1]
    q = qt[y_comp["tq"]].astype(np.float64)
    spatial = np.einsum(
        "ux,nuv,vy->nxy",
        _DCT_A,
        (grid.reshape(-1, 64) * q).reshape(-1, 8, 8),
        _DCT_A,
        optimize=True,
    )
    pixels = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
    plane = (
        pixels.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )
    yh, yv = y_comp["h"], y_comp["v"]
    if yh < hmax or yv < vmax:
        # nearest INDEX MAP, not np.repeat: integer repeat factors
        # silently undersize the plane for non-divisor ratios (Y 2x2
        # under a 3x3 max is legal per T.81)
        full_h, full_w = 8 * vmax * mcus_y, 8 * hmax * mcus_x
        rows = (np.arange(full_h) * yv) // vmax
        cols = (np.arange(full_w) * yh) // hmax
        plane = plane[np.ix_(rows, cols)]
    return _apply_orientation(plane[:h, :w], orientation).tolist()


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """libjpeg-style quality scaling of the Annex K base tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (QUANT_LUMA, QUANT_CHROMA):
        t = (np.array(base, np.int64) * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def write(self, code: int, n: int) -> None:
        self.acc = (self.acc << n) | (code & ((1 << n) - 1))
        self.nacc += n
        while self.nacc >= 8:
            self.nacc -= 8
            byte = (self.acc >> self.nacc) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # stuffing
        self.acc &= (1 << self.nacc) - 1

    def flush(self) -> None:
        if self.nacc:  # pad to a byte boundary with 1-bits (T.81 B.2.1)
            pad = 8 - self.nacc
            self.write((1 << pad) - 1, pad)


def _mag_bits(v: int) -> tuple[int, int]:
    """(category ssss, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    s = int(abs(v)).bit_length()
    return s, v if v > 0 else v + (1 << s) - 1


def _emit_eobrun(wr, act, state):
    """Emit a pending EOB run + the correction bits attached to it.

    Correction bits live in TWO pools (the T.81/libjpeg structure):
    state["be"] — bits from prior blocks folded into the pending EOB
    run, read by the decoder during those blocks' EOB sweeps, flushed
    here right after the EOBn symbol — and the CURRENT block's bits,
    which the caller flushes after its own symbol/sign."""
    if state["eobrun"] > 0:
        nbits = state["eobrun"].bit_length() - 1
        ln, code = act[nbits << 4]
        wr.write(code, ln)
        if nbits:
            wr.write(state["eobrun"] - (1 << nbits), nbits)
        state["eobrun"] = 0
        for bit in state["be"]:
            wr.write(bit, 1)
        state["be"] = []


def _emit_ac_first(wr, blocks, act, ss, se, al):
    """Progressive AC first scan (Ah=0): point-transformed run-length
    coding with cross-block EOB runs (T.81 G.1.2.2)."""
    state = {"eobrun": 0, "be": []}
    for blk in blocks:
        r = 0
        for k in range(ss, se + 1):
            v = int(blk[ZIGZAG[k]])
            t = abs(v) >> al
            if t == 0:
                r += 1
                continue
            _emit_eobrun(wr, act, state)
            while r > 15:
                ln, code = act[0xF0]
                wr.write(code, ln)
                r -= 16
            s, bits = _mag_bits(t if v > 0 else -t)
            if s > 10:
                raise ValueError("JPEG coefficient out of standard-table range")
            ln, code = act[(r << 4) | s]
            wr.write(code, ln)
            wr.write(bits, s)
            r = 0
        if r > 0:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                _emit_eobrun(wr, act, state)
    _emit_eobrun(wr, act, state)


def _emit_ac_refine(wr, blocks, act, ss, se, al):
    """Progressive AC refinement scan (Ah=Al+1): newly-significant
    coefficients as (run,1) symbols + sign, correction bits for
    already-significant ones buffered and flushed after the next
    symbol / EOB run (T.81 G.1.2.3, libjpeg emission order)."""
    state = {"eobrun": 0, "be": []}
    for blk in blocks:
        absvals = {}
        eobpos = ss - 1
        for k in range(ss, se + 1):
            v = int(blk[ZIGZAG[k]])
            t = abs(v) >> al
            absvals[k] = (v, t)
            if t == 1:
                eobpos = k  # newly significant (Ah = Al+1 invariant)
        r = 0
        br: list[int] = []  # current block's correction bits
        for k in range(ss, se + 1):
            v, t = absvals[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eobpos:
                _emit_eobrun(wr, act, state)
                ln, code = act[0xF0]
                wr.write(code, ln)
                r -= 16
                for bit in br:
                    wr.write(bit, 1)
                br = []
            if t > 1:
                br.append(t & 1)  # correction bit, rides the next symbol
                continue
            _emit_eobrun(wr, act, state)
            ln, code = act[(r << 4) | 1]
            wr.write(code, ln)
            wr.write(1 if v > 0 else 0, 1)
            for bit in br:
                wr.write(bit, 1)
            br = []
            r = 0
        if r > 0 or br:
            # block tail joins the EOB run; its correction bits move
            # to the run-attached pool (decoder reads them in this
            # block's EOB sweep)
            state["eobrun"] += 1
            state["be"] += br
            if state["eobrun"] == 0x7FFF or len(state["be"]) > 900:
                _emit_eobrun(wr, act, state)
    _emit_eobrun(wr, act, state)


def encode_jpeg(
    rgb_rows: list[list[tuple[int, int, int]]],
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    grayscale: bool = False,
    progressive: bool = False,
    per_component_scans: bool = False,
) -> bytes:
    """Encode RGB pixel rows as a JFIF JPEG (test/sink helper): Annex
    K tables at the given quality, optional 2x2 chroma subsampling
    and restart intervals (baseline mode), standard Huffman coding.
    progressive=True emits an SOF2 stream — DC-first at Al=1, per-
    component spectral-selection AC scans at Al=2, then DC and AC
    refinement scans down to Al=0, so the final coefficients are
    BIT-IDENTICAL to the baseline encoding (the decoder-parity test
    anchor)."""
    h = len(rgb_rows)
    w = len(rgb_rows[0]) if h else 0
    if w == 0 or h == 0:
        raise ValueError("empty image")
    rgb = np.array(rgb_rows, np.float64)  # h x w x 3
    r, g, bl = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * bl
    cb = -0.168736 * r - 0.331264 * g + 0.5 * bl + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * bl + 128
    qy, qc = _quality_tables(quality)

    dc_l = _encode_codes(*HUFF_DC_LUMA)
    ac_l = _encode_codes(*HUFF_AC_LUMA)
    dc_c = _encode_codes(*HUFF_DC_CHROMA)
    ac_c = _encode_codes(*HUFF_AC_CHROMA)

    if grayscale:
        comps = [("Y", y, 1, 1, 0, dc_l, ac_l, qy)]
        hmax = vmax = 1
    elif subsample:
        comps = [
            ("Y", y, 2, 2, 0, dc_l, ac_l, qy),
            ("Cb", _box2(cb), 1, 1, 1, dc_c, ac_c, qc),
            ("Cr", _box2(cr), 1, 1, 1, dc_c, ac_c, qc),
        ]
        hmax = vmax = 2
    else:
        comps = [
            ("Y", y, 1, 1, 0, dc_l, ac_l, qy),
            ("Cb", cb, 1, 1, 1, dc_c, ac_c, qc),
            ("Cr", cr, 1, 1, 1, dc_c, ac_c, qc),
        ]
        hmax = vmax = 1
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # quantized coefficient grids over each component's padded MCU
    # grid (edge-replicated), plus its REAL block dims for the
    # non-interleaved progressive AC scans
    grids = []
    for name, plane, ch, cv, tq, dct, act, q in comps:
        bph, bpw = cv * mcus_y, ch * mcus_x
        plane = _pad_edge(plane, bph * 8, bpw * 8)
        grid = np.zeros((bph, bpw, 64), np.int64)
        for by in range(bph):
            for bx in range(bpw):
                blk = plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] - 128.0
                coefs = _DCT_A @ blk @ _DCT_A.T
                grid[by, bx] = np.round(coefs.reshape(64) / q).astype(np.int64)
        rw = -(-(-(-w * ch // hmax)) // 8)
        rh = -(-(-(-h * cv // vmax)) // 8)
        grids.append(
            {"name": name, "grid": grid, "h": ch, "v": cv, "tq": tq,
             "dc": dct, "ac": act, "q": q, "bw_real": rw, "bh_real": rh}
        )

    writer = _BitWriter()
    scans: list[bytes] = []  # (SOS header payload, entropy bytes) pairs

    def mcu_blocks(g):
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            for by in range(g["v"]):
                for bx in range(g["h"]):
                    yield g["grid"][my * g["v"] + by, mx * g["h"] + bx]

    def sos_header(scan_comps, ss, se, ah, al, table_ids):
        p = bytes([len(scan_comps)])
        for gi, tid in zip(scan_comps, table_ids):
            p += bytes([gi + 1, tid])
        return p + bytes([ss, se, (ah << 4) | al])

    if not progressive and per_component_scans:
        # T.81 multi-scan sequential: one full DC+AC scan per
        # component, non-interleaved data-unit (raster) order over the
        # component's REAL block grid
        for gi, g in enumerate(grids):
            wr = _BitWriter()
            pred0 = 0
            for by in range(g["bh_real"]):
                for bx in range(g["bw_real"]):
                    qz = g["grid"][by, bx]
                    s, bits = _mag_bits(int(qz[0]) - pred0)
                    pred0 = int(qz[0])
                    ln, code = g["dc"][s]
                    wr.write(code, ln)
                    if s:
                        wr.write(bits, s)
                    run = 0
                    for k in range(1, 64):
                        v = int(qz[ZIGZAG[k]])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            ln, code = g["ac"][0xF0]
                            wr.write(code, ln)
                            run -= 16
                        s, bits = _mag_bits(v)
                        if s > 10:
                            raise ValueError(
                                "JPEG coefficient out of standard-table range"
                            )
                        ln, code = g["ac"][(run << 4) | s]
                        wr.write(code, ln)
                        wr.write(bits, s)
                        run = 0
                    if run:
                        ln, code = g["ac"][0x00]
                        wr.write(code, ln)
            wr.flush()
            scans.append(
                (sos_header([gi], 0, 63, 0, 0,
                            [0x00 if gi == 0 else 0x11]),
                 bytes(wr.out))
            )
    elif not progressive:
        pred = [0] * len(grids)
        rst_n = 0
        for mcu in range(mcus_x * mcus_y):
            if restart_interval and mcu and mcu % restart_interval == 0:
                writer.flush()
                writer.out += bytes((0xFF, 0xD0 + rst_n % 8))
                rst_n += 1
                pred = [0] * len(grids)
            my, mx = divmod(mcu, mcus_x)
            for gi, g in enumerate(grids):
                for by in range(g["v"]):
                    for bx in range(g["h"]):
                        qz = g["grid"][my * g["v"] + by, mx * g["h"] + bx]
                        diff = int(qz[0]) - pred[gi]
                        pred[gi] = int(qz[0])
                        s, bits = _mag_bits(diff)
                        ln, code = g["dc"][s]
                        writer.write(code, ln)
                        if s:
                            writer.write(bits, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(qz[ZIGZAG[k]])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                ln, code = g["ac"][0xF0]
                                writer.write(code, ln)
                                run -= 16
                            s, bits = _mag_bits(v)
                            if s > 10:
                                raise ValueError(
                                    "JPEG coefficient out of standard-table range"
                                )
                            ln, code = g["ac"][(run << 4) | s]
                            writer.write(code, ln)
                            writer.write(bits, s)
                            run = 0
                        if run:
                            ln, code = g["ac"][0x00]
                            writer.write(code, ln)
        writer.flush()
        scans.append(
            (sos_header(range(len(grids)), 0, 63,
                        0, 0,
                        [0x00 if i == 0 else 0x11 for i in range(len(grids))]),
             bytes(writer.out))
        )
    else:
        def real_blocks(g):
            for by in range(g["bh_real"]):
                for bx in range(g["bw_real"]):
                    yield g["grid"][by, bx]

        n = len(grids)
        dc_tid = [0x00 if i == 0 else 0x10 for i in range(n)]

        # 1. DC first at Al=1 — interleaved over the MCU grid, or one
        # NON-INTERLEAVED scan per component (raster over the real
        # block grid, T.81 A.2.2) when per_component_scans is set
        if per_component_scans:
            for gi, g in enumerate(grids):
                wr = _BitWriter()
                pred0 = 0
                for by in range(g["bh_real"]):
                    for bx in range(g["bw_real"]):
                        v = int(g["grid"][by, bx][0]) >> 1
                        s, bits = _mag_bits(v - pred0)
                        pred0 = v
                        ln, code = g["dc"][s]
                        wr.write(code, ln)
                        if s:
                            wr.write(bits, s)
                wr.flush()
                scans.append(
                    (sos_header([gi], 0, 0, 0, 1, [dc_tid[gi]]),
                     bytes(wr.out))
                )
        else:
            wr = _BitWriter()
            pred = [0] * n
            for mcu in range(mcus_x * mcus_y):
                my, mx = divmod(mcu, mcus_x)
                for gi, g in enumerate(grids):
                    for by in range(g["v"]):
                        for bx in range(g["h"]):
                            v = int(
                                g["grid"][my * g["v"] + by, mx * g["h"] + bx][0]
                            ) >> 1
                            s, bits = _mag_bits(v - pred[gi])
                            pred[gi] = v
                            ln, code = g["dc"][s]
                            wr.write(code, ln)
                            if s:
                                wr.write(bits, s)
            wr.flush()
            scans.append(
                (sos_header(range(n), 0, 0, 0, 1, dc_tid), bytes(wr.out))
            )

        # 2. AC first per component: two spectral bands for Y, one for
        # chroma — exercises band splits; Al=2. AC table id 2 = the
        # flat progressive table (EOBn symbols live there).
        flat_ac = _encode_codes(*HUFF_AC_FLAT)
        for gi, g in enumerate(grids):
            bands = [(1, 5), (6, 63)] if gi == 0 else [(1, 63)]
            for ss, se in bands:
                wr = _BitWriter()
                _emit_ac_first(wr, real_blocks(g), flat_ac, ss, se, 2)
                wr.flush()
                scans.append(
                    (sos_header([gi], ss, se, 0, 2, [0x02]),
                     bytes(wr.out))
                )

        # 3. DC refinement to Al=0 (raw bits, no Huffman)
        wr = _BitWriter()
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            for g in grids:
                for by in range(g["v"]):
                    for bx in range(g["h"]):
                        wr.write(
                            int(g["grid"][my * g["v"] + by, mx * g["h"] + bx][0])
                            & 1,
                            1,
                        )
        wr.flush()
        scans.append((sos_header(range(n), 0, 0, 1, 0, dc_tid), bytes(wr.out)))

        # 4. AC refinement: Al 2 -> 1 -> 0
        for ah, al in ((2, 1), (1, 0)):
            for gi, g in enumerate(grids):
                wr = _BitWriter()
                _emit_ac_refine(wr, real_blocks(g), flat_ac, 1, 63, al)
                wr.flush()
                scans.append(
                    (sos_header([gi], 1, 63, ah, al, [0x02]),
                     bytes(wr.out))
                )

    # ---- container segments
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in [(0, qy)] + ([] if grayscale else [(1, qc)]):
        zz = bytes(int(q[i]) for i in ZIGZAG)
        out += seg(0xDB, bytes([tq]) + zz)
    ncomp = len(grids)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i, g in enumerate(grids):
        sof += struct.pack(">BBB", i + 1, (g["h"] << 4) | g["v"], g["tq"])
    out += seg(0xC2 if progressive else 0xC0, sof)
    tables = [(0x00, HUFF_DC_LUMA), (0x10, HUFF_AC_LUMA)]
    if not grayscale:
        tables += [(0x01, HUFF_DC_CHROMA), (0x11, HUFF_AC_CHROMA)]
    if progressive:
        tables.append((0x12, HUFF_AC_FLAT))
    for tid, (counts, symbols) in tables:
        out += seg(0xC4, bytes([tid]) + bytes(counts) + bytes(symbols))
    if restart_interval and not progressive:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    for header, entropy in scans:
        out += seg(0xDA, header)
        out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _box2(plane: np.ndarray) -> np.ndarray:
    """2x2 box-average downsample (edge-replicated to even dims)."""
    h, w = plane.shape
    plane = _pad_edge(plane, h + h % 2, w + w % 2)
    return (
        plane[0::2, 0::2] + plane[1::2, 0::2] + plane[0::2, 1::2] + plane[1::2, 1::2]
    ) / 4.0


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")

"""gRPC `logs.v1.LogService/BatchWrite` messages and handler (SURVEY.md §2.11).

Reference wire surface: proto/log.proto:6-21 (LogEntry with string ts,
map<string,string> attrs; BatchWriteRequest{entries}; BatchWriteResponse
{written}) served by internal/service/service.go:21-47, which parses ts
with the RFC3339Nano -> RFC3339 -> now() fallback, enqueues, and replies
with the ACCEPTED count before anything is persisted.

This module reproduces that surface without generated code or external
dependencies:

- a hand-written protobuf WIRE CODEC for exactly these three messages
  (proto3 encoding is varint tags + length-delimited fields; the map
  field is the standard repeated {1:key, 2:value} entry message);
- `LogServiceHandler`: transport-agnostic bytes->bytes BatchWrite that
  delegates to any submit callable (`LogsTable.ingest_batch` for the
  synchronous path, `IngestStream.submit_many` for the micro-batched
  path — both return the accepted count, matching service.go:45-46).
  The ts fallback itself lives in the normalize step
  (functions/timeparse.py), exactly where the reference parses it at
  the service boundary;
- `METHOD_PATH`, the HTTP/2 :path the handler is served on.

The transport is native `application/grpc` over h2c
(api/http2_transport.py), as in the reference (cmd/server/main.go:74-88).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from clickhouse_observability_spark.schema import INGEST_ARROW_SCHEMA, ingest_table

# ---------------------------------------------------------------------------
# protobuf wire codec (proto3) for log.proto's three messages
# ---------------------------------------------------------------------------

_WT_VARINT = 0
_WT_LEN = 2


def _encode_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field_no: int, wire_type: int) -> bytes:
    return _encode_varint((field_no << 3) | wire_type)


def _len_field(field_no: int, payload: bytes) -> bytes:
    return _tag(field_no, _WT_LEN) + _encode_varint(len(payload)) + payload


def _str_field(field_no: int, s: str | None) -> bytes:
    # proto3 default-value elision: empty strings are not serialized
    if not s:
        return b""
    return _len_field(field_no, s.encode("utf-8"))


def encode_log_entry(entry: Mapping) -> bytes:
    """LogEntry (proto/log.proto:6-14). attrs is the canonical proto3
    map encoding: repeated entry messages {1: key, 2: value}."""
    out = bytearray()
    out += _str_field(1, entry.get("ts"))
    out += _str_field(2, entry.get("service"))
    out += _str_field(3, entry.get("level"))
    out += _str_field(4, entry.get("msg"))
    for k, v in (entry.get("attrs") or {}).items():
        out += _len_field(5, _str_field(1, k) + _str_field(2, v))
    out += _str_field(6, entry.get("trace_id"))
    out += _str_field(7, entry.get("span_id"))
    return bytes(out)


def _skip_field(buf: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WT_VARINT:
        _, pos = _decode_varint(buf, pos)
    elif wire_type == 1:  # fixed64
        pos += 8
    elif wire_type == _WT_LEN:
        ln, pos = _decode_varint(buf, pos)
        pos += ln
    elif wire_type == 5:  # fixed32
        pos += 4
    else:
        raise ValueError(f"unsupported wire type {wire_type}")
    return pos


# LogEntry string fields by their one-byte tag (field_no << 3 | LEN)
_ENTRY_STR_TAGS = {0x0A: "ts", 0x12: "service", 0x1A: "level", 0x22: "msg",
                   0x32: "trace_id", 0x3A: "span_id"}
_ATTRS_TAG = 0x2A  # field 5, LEN: one map entry {1: key, 2: value}


def _decode_log_entry(buf: bytes, pos: int, end: int) -> dict:
    """LogEntry in buf[pos:end]. One-byte varints (every tag here and
    every length under 128) are read inline instead of through
    _decode_varint: this is also the ack path for every body the
    columnar kernel below defers."""
    entry = {
        "ts": "", "service": "", "level": "", "msg": "",
        "attrs": {}, "trace_id": "", "span_id": "",
    }
    attrs = entry["attrs"]
    while pos < end:
        key = buf[pos]
        if key < 0x80:
            pos += 1
        else:
            key, pos = _decode_varint(buf, pos)
        if key & 7 != _WT_LEN:
            pos = _skip_field(buf, pos, key & 7)
            continue
        ln = buf[pos]
        if ln < 0x80:
            pos += 1
        else:
            ln, pos = _decode_varint(buf, pos)
        stop = pos + ln
        if stop > end:  # a malformed length never reads the next entry
            stop = end
        name = _ENTRY_STR_TAGS.get(key)
        if name is not None:
            entry[name] = buf[pos:stop].decode("utf-8")
        elif key == _ATTRS_TAG:
            k, v = "", ""
            while pos < stop:
                mkey = buf[pos]
                if mkey < 0x80:
                    pos += 1
                else:
                    mkey, pos = _decode_varint(buf, pos)
                mln = buf[pos]
                if mln < 0x80:
                    pos += 1
                else:
                    mln, pos = _decode_varint(buf, pos)
                s = buf[pos:min(pos + mln, stop)].decode("utf-8")
                pos += mln
                if mkey >> 3 == 1:
                    k = s
                else:
                    v = s
            attrs[k] = v
        pos = stop
    return entry


def encode_batch_write_request(entries: list[Mapping]) -> bytes:
    return b"".join(_len_field(1, encode_log_entry(e)) for e in entries)


def decode_batch_write_request(buf: bytes) -> list[dict]:
    entries = []
    pos, end = 0, len(buf)
    while pos < end:
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_LEN:
            ln, pos = _decode_varint(buf, pos)
            entries.append(_decode_log_entry(buf, pos, pos + ln))
            pos += ln
        else:
            pos = _skip_field(buf, pos, key & 7)
    if pos > end:  # a truncated request is rejected, not half-submitted
        raise ValueError("field runs past the end of the request")
    return entries


# ---------------------------------------------------------------------------
# columnar BatchWriteRequest decoder (the ack path)
# ---------------------------------------------------------------------------
#
# decode_batch_write_request above is the spec. The kernel below reads
# only the layout a proto3 encoder emits for log.proto: top-level
# entries `0x0A len LogEntry`, every tag one byte, every length one or
# two bytes, LEN fields 1-7 only, no string field twice in an entry,
# map entries `[0x0A len key] [0x12 len value]` (empty strings elided)
# and no key twice in one entry's map. It decodes that into the same
# rows as the spec, as Arrow columns, without one Python object per
# row; for any other body it returns None and the spec decodes it.

_MAP_FIELD = _ATTRS_TAG >> 3
_STR_FIELD_NOS = [tag >> 3 for tag in _ENTRY_STR_TAGS]  # ts ... span_id
# The kernel takes one round of ~30 numpy calls per field position of
# the widest entry; past this many rounds (7 fields + 25 attrs) the
# scalar spec is cheaper, so the kernel defers.
_MAX_ROUNDS = 32


def _entry_bounds(buf: bytes) -> tuple[list[int], list[int]] | None:
    """[start, end) of every top-level entry, or None off the layout."""
    starts, ends = [], []
    pos, n = 0, len(buf)
    while pos < n:
        if buf[pos] != 0x0A or pos + 1 >= n:
            return None
        ln = buf[pos + 1]
        pos += 2
        if ln >= 0x80:
            if pos >= n or buf[pos] >= 0x80:
                return None
            ln = (ln & 0x7F) | buf[pos] << 7
            pos += 1
        starts.append(pos)
        pos += ln
        ends.append(pos)
    if pos != n:
        return None
    return starts, ends


def _lengths(a: np.ndarray, p: np.ndarray, lim: np.ndarray):
    """The one- or two-byte length varints at a[p]: (payload starts,
    lengths, ok), ok where the varint and its payload end by lim.
    Reads stop at lim <= len(body); `a` carries two pad bytes past it."""
    q = np.minimum(p, lim)
    l1 = a[q].astype(np.int64)
    l2 = a[q + 1].astype(np.int64)
    two = l1 >= 0x80
    ln = np.where(two, (l1 & 0x7F) | (l2 << 7), l1)
    start = p + 1 + two
    ok = (p < lim) & ~(two & (l2 >= 0x80)) & (start + ln <= lim)
    return start, ln, ok


def _string_array(a: np.ndarray, start: np.ndarray, length: np.ndarray) -> pa.Array:
    """Gather the byte ranges [start, start+length) into one Arrow
    string array; raises pa.ArrowInvalid on invalid UTF-8."""
    offsets = np.zeros(len(start) + 1, np.int32)
    np.cumsum(length, out=offsets[1:])
    idx = np.repeat(start - offsets[:-1], length) + np.arange(offsets[-1])
    arr = pa.Array.from_buffers(
        pa.string(), len(start),
        [None, pa.py_buffer(offsets), pa.py_buffer(a[idx])])
    arr.validate(full=True)
    return arr


def decode_batch_write_columns(buf: bytes) -> pa.Table | None:
    """The rows decode_batch_write_request gives, as an
    INGEST_ARROW_SCHEMA table, or None when `buf` is off the layout
    above (or holds invalid UTF-8, which the spec rejects, or an
    entry with more than _MAX_ROUNDS fields and map entries).

    Entries are stepped in lockstep: step k reads the k-th field of
    every entry that has one, with one numpy pass over all of them."""
    bounds = _entry_bounds(buf)
    if bounds is None:
        return None
    n = len(bounds[0])
    a = np.frombuffer(buf + b"\0\0", np.uint8)
    pos = np.array(bounds[0], np.int64)
    end = np.array(bounds[1], np.int64)
    fstart = np.zeros((8, n), np.int64)  # by field number
    flen = np.zeros((8, n), np.int64)
    seen = np.zeros(n, np.int64)  # bit f: field f already read
    map_entry, map_start, map_end = [], [], []
    live = np.flatnonzero(pos < end)
    rounds = 0
    while live.size:
        rounds += 1
        if rounds > _MAX_ROUNDS:
            return None
        p = pos[live]
        tag = a[p].astype(np.int64)
        fno = tag >> 3
        if ((tag & 7) != _WT_LEN).any() or (fno < 1).any() or (fno > 7).any():
            return None
        bit = np.left_shift(1, fno)
        if (((seen[live] & bit) != 0) & (fno != _MAP_FIELD)).any():
            return None
        seen[live] |= bit
        start, ln, ok = _lengths(a, p + 1, end[live])
        if not ok.all():
            return None
        fstart[fno, live] = start
        flen[fno, live] = ln
        is_map = fno == _MAP_FIELD
        if is_map.any():
            map_entry.append(live[is_map])
            map_start.append(start[is_map])
            map_end.append(start[is_map] + ln[is_map])
        stop = start + ln
        pos[live] = stop
        live = live[stop < end[live]]
    try:
        cols = {_ENTRY_STR_TAGS[tag]: _string_array(a, fstart[f], flen[f])
                for tag, f in zip(_ENTRY_STR_TAGS, _STR_FIELD_NOS)}
        cols["attrs"] = _attrs_array(a, n, map_entry, map_start, map_end)
    except pa.ArrowInvalid:  # invalid UTF-8: the spec raises the error
        return None
    if cols["attrs"] is None:
        return None
    return pa.Table.from_arrays(
        [cols[name] for name in INGEST_ARROW_SCHEMA.names],
        schema=INGEST_ARROW_SCHEMA)


def _attrs_array(a, n, map_entry, map_start, map_end) -> pa.MapArray | None:
    """The attrs column from every map entry's [start, end), grouped
    by entry in wire order; None off the layout or on a repeated key."""
    if map_entry:
        entry = np.concatenate(map_entry)
        order = np.argsort(entry, kind="stable")
        entry = entry[order]
        ms = np.concatenate(map_start)[order]
        me = np.concatenate(map_end)[order]
    else:
        entry = ms = me = np.zeros(0, np.int64)
    has_k = (ms < me) & (a[ms] == 0x0A)
    kstart, klen, kok = _lengths(a, ms + 1, me)
    if not (kok | ~has_k).all():
        return None
    kstart = np.where(has_k, kstart, ms)
    klen = np.where(has_k, klen, 0)
    kend = kstart + klen  # <= me
    has_v = (kend < me) & (a[kend] == 0x12)
    vstart, vlen, vok = _lengths(a, kend + 1, me)
    vstart = np.where(has_v, vstart, kend)
    vlen = np.where(has_v, vlen, 0)
    if not ((vok | ~has_v).all() and (vstart + vlen == me).all()):
        return None
    counts = np.bincount(entry, minlength=n)
    keys = _string_array(a, kstart, klen)
    if (counts > 1).any():
        codes = pc.dictionary_encode(keys).indices.to_numpy()
        pair = entry * len(keys) + codes
        if np.unique(pair).size < pair.size:
            return None
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.MapArray.from_arrays(
        pa.array(offsets), keys, _string_array(a, vstart, vlen))


def decode_batch_write_table(buf: bytes) -> pa.Table:
    """A BatchWriteRequest as an INGEST_ARROW_SCHEMA table: the
    columnar kernel when `buf` is on its layout, otherwise the spec's
    rows (which raises on a malformed body)."""
    table = decode_batch_write_columns(buf)
    if table is None:
        table = ingest_table(decode_batch_write_request(buf))
    return table


def encode_batch_write_response(written: int) -> bytes:
    if written == 0:
        return b""  # proto3 default elision
    return _tag(1, _WT_VARINT) + _encode_varint(written)


def decode_batch_write_response(buf: bytes) -> int:
    pos = 0
    while pos < len(buf):
        key, pos = _decode_varint(buf, pos)
        if key >> 3 == 1 and key & 7 == _WT_VARINT:
            val, pos = _decode_varint(buf, pos)
            return val
        pos = _skip_field(buf, pos, key & 7)
    return 0


# ---------------------------------------------------------------------------
# service handler (transport-agnostic)
# ---------------------------------------------------------------------------

METHOD_PATH = "/logs.v1.LogService/BatchWrite"  # log.proto:19-21


class LogServiceHandler:
    """BatchWrite semantics over any submit callable.

    submit: (INGEST_ARROW_SCHEMA table) -> accepted count. Use
    LogsTable.ingest_batch for the write-through path or
    IngestStream.submit_many for the micro-batched path; both reply
    with the ACCEPTED count before persistence (service.go:45-46
    contract). The RFC3339[Nano]->now()
    ts fallback (service.go:27-34) is applied by normalize_ingest in
    the write path, so malformed timestamps pass through here intact.
    """

    def __init__(self, submit: Callable[[pa.Table], int]):
        self._submit = submit

    def batch_write(self, request_bytes: bytes) -> bytes:
        entries = decode_batch_write_table(request_bytes)
        written = self._submit(entries) if entries.num_rows else 0
        return encode_batch_write_response(written)


# ---------------------------------------------------------------------------
# round-trip sanity hook (used by tests; keeps the codec honest against
# a reference vector captured from protobuf's canonical encoder)
# ---------------------------------------------------------------------------

def canonical_example() -> tuple[list[dict], bytes]:
    """The README.md:83-85 canonical row as a wire-level test vector.
    The byte string was hand-assembled per the proto3 spec (field
    tags in ascending order, map entry as {1,2} submessage)."""
    entries = [
        {
            "ts": "2025-09-01T20:05:00Z",
            "service": "orders",
            "level": "WARN",
            "msg": "order pending",
            "attrs": {"user": "jane.smith"},
            "trace_id": "trace-124",
            "span_id": "span-458",
        }
    ]
    return entries, encode_batch_write_request(entries)

